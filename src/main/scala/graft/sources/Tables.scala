package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType}

/** Typed access to the driver's TPC-H-ish testdata directory
  * (`TESTDATA.md`): one parquet file per table.
  *
  * Parquet is the engine's canonical columnar source: scans get predicate
  * pushdown, column pruning, and vectorized decoding for free — at 100 TB the
  * difference between a pruned scan and a full scan is the whole job.
  *
  * Every accessor opens its file with a known schema
  * ([[Tables.schemaOf]]): the first open of a file in a session infers
  * the schema from the parquet footer (one Spark job); later opens in that
  * session start no job. Each open still lists the file, and the data is
  * read only when the returned DataFrame runs.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def path(name: String): String = s"$dir/$name.parquet"

  private def t(name: String): DataFrame =
    spark.read.schema(Tables.schemaOf(spark, path(name))).parquet(path(name))

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")

  /** The events table's `ts` has shipped in two parquet shapes:
    * nanosecond timestamps (no native Spark type — sessions set
    * `spark.sql.legacy.parquet.nanosAsLong=true` so the scan yields LONG
    * nanos, converted here to a µs timestamp, lossless for this
    * µs-grained data) and, in newer driver data, plain `timestamp[us]`
    * without a zone (read as TIMESTAMP_NTZ). Either way the accessor
    * lands on session-local TIMESTAMP: `unix_micros`, long casts and
    * streaming watermarks all reject NTZ, and under the repo's fixed UTC
    * session the NTZ→TIMESTAMP cast is value-identical (the wall clock
    * IS the UTC instant, matching DuckDB's naive read).
    */
  def events: DataFrame = {
    val df = t("events") // its schema is the memoized one: no job
    val asTimestamp =
      if (df.schema("ts").dataType == LongType)
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df
    asTimestamp.withColumn("ts", col("ts").cast("timestamp"))
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Register every table as a temp view so the SQL surface (`spark.sql`)
    * and the DataFrame surface answer the same catalog — reference teaches
    * they are one engine (303-spark-sql/README.md:83-93).
    */
  def registerAll(): Unit = Tables.names.foreach(n =>
    (if (n == "events") events else t(n)).createOrReplaceTempView(n))
}

object Tables {
  /** The table files of a testdata directory, one `<name>.parquet` each. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** A file's inferred schema, valid while its length and modification
    * time stay as they were when it was inferred. */
  private final case class Stamped(length: Long, modified: Long,
      schema: StructType)

  /** Per session (held weakly, so a stopped session is not pinned), per
    * path, the last inferred schema. */
  private val memo =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Stamped]]()

  /** The schema `spark.read.parquet(path)` infers, inferred once per
    * session and file version: a rewritten file (new length or
    * modification time) or another session (which may read parquet
    * under other settings, e.g. `nanosAsLong`) infers again. The schema
    * is the inferred one, so it is already nullable. Thread-safe; two
    * racing first opens may both infer, and either result is kept.
    */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val status = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val files = memo.synchronized(
      memo.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    Option(files.get(path))
      .filter(s => s.length == status.getLen &&
        s.modified == status.getModificationTime)
      .getOrElse {
        val fresh = Stamped(status.getLen, status.getModificationTime,
          spark.read.parquet(path).schema)
        files.put(path, fresh)
        fresh
      }.schema
  }
}
