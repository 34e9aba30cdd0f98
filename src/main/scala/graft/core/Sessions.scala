package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the ONE place a session is
  * built, so the benchmark, the oracle dump, the stress tier, the plan
  * dump and the test suite all run the same engine.
  *
  * Defaults are chosen for the driver's local[32] harness but the same knobs
  * are what you would tune on a 1000-executor cluster: AQE on (runtime
  * shuffle-partition coalescing, skew-join splitting, broadcast demotion),
  * UTC timezone pinned (reference pitfall — SURVEY.md §7.4.4, epoch→year
  * depends on JVM default TZ), and an explicit shuffle-partition count
  * instead of the 200 default.
  */
object Sessions {

  /** The harness mains' core count: `SPARK_GRAFT_CPUS`, else 32. */
  val defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** Build a local session. `cores` controls both parallelism and the
    * shuffle-partition count: at 100 TB you would size shuffle partitions to
    * keep each partition ≲ executor memory (e.g. 2000–8000), here 32 matches
    * the harness.
    *
    * Each session gets a fresh warehouse directory: a stale one from a
    * previous JVM makes saveAsTable fail with LOCATION_ALREADY_EXISTS
    * (a fresh in-memory catalog does not know it may overwrite the
    * location). A caller that set `spark.sql.warehouse.dir` as a system
    * property keeps its own.
    */
  def local(
      appName: String = "graft",
      cores: Int = defaultCores,
      shufflePartitions: Int = defaultCores,
      hive: Boolean = false): SparkSession = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-$appName-${System.nanoTime()}"
    val builder = SparkSession
      .builder()
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
    // S11 deep form (303-spark-sql/README.md:46-73): a Hive-metastore-
    // backed catalog, so databases / saveAsTable / partitioned+bucketed
    // tables persist across sessions. Local derby metastore per run; on a
    // cluster you would point javax.jdo.option.ConnectionURL (or
    // hive.metastore.uris) at the shared metastore instead. NOTE: the
    // catalog implementation is fixed per-JVM at first session creation.
    val spark = (if (hive) {
      builder
        .enableHiveSupport()
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$dir/metastore_db;create=true")
    } else if (sys.props.contains("spark.sql.warehouse.dir")) builder
    else builder.config("spark.sql.warehouse.dir", s"$dir/warehouse"))
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // parallelismFirst stays at its default (measured and rejected in
      // r17: sizing reduce partitions by bytes coalesced the CPU-dense
      // 10–40 MB pair-verify and graph shuffles to one task — q118
      // 6.5→14.1 s — while the floor-bound queries barely moved)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
