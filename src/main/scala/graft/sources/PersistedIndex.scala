package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructType}

/** The lifecycle every persisted dedup index family shares —
  * fingerprint, simhash chunk, MinHash band, winnow and IVF — written
  * once: spec-first bootstrap, idempotent append, crash-ordered
  * compaction, and the fold of a streaming ingest's batch_id-partitioned
  * store into the index. A family contributes only its constants:
  *
  * @param schema    the index row columns (the empty-table bootstrap;
  *                  also the row shape of the family's ingest store
  *                  unless `store` gives another)
  * @param identity  the column that makes an append idempotent (rows
  *                  whose identity the index already holds are skipped)
  *                  and keys the compaction's keep-set semi-join
  * @param bucketBy  bucket count and keys (sort keys = bucket keys), or
  *                  None for a partitioned layout
  * @param partitionBy hive partition columns (the IVF cell layout)
  * @param spec      the parameters signatures are a pure function of;
  *                  persisted in the [[IndexSpec]] table beside the
  *                  index and required equal on every append and probe.
  *                  Empty = the family keeps no spec table.
  * @param mismatch  what a spec mismatch would silently cause
  * @param prepare   incoming rows → index rows, before the anti-join
  *                  (the family's selects, casts and distincts)
  * @param place     index rows → placed rows, after the anti-join (the
  *                  IVF cell assignment)
  * @param distinctOnCompact whether compaction also collapses duplicate
  *                  rows (the band index, whose delta commits append
  *                  without an anti-join)
  * @param fromStore (store dir, folded store rows) → index rows: the
  *                  family's store check and column mapping for a fold
  * @param store     the ingest store's row columns where they differ
  *                  from `schema` (the winnow store names `corpus_id`
  *                  `doc_id`)
  */
final case class PersistedIndex(
    schema: StructType,
    identity: String,
    bucketBy: Option[(Int, Seq[String])] = None,
    partitionBy: Seq[String] = Nil,
    spec: Seq[(String, Any)] = Nil,
    mismatch: String = "",
    prepare: DataFrame => DataFrame,
    place: DataFrame => DataFrame = rows => rows,
    distinctOnCompact: Boolean = false,
    fromStore: (String, DataFrame) => DataFrame = (_, rows) => rows,
    store: Option[StructType] = None) {

  /** The row columns of the family's ingest store. */
  def storeSchema: StructType = store.getOrElse(schema)

  private def sortBy: Seq[String] = bucketBy.map(_._2).getOrElse(Nil)

  /** Write the index from `rows`, spec FIRST (the [[IndexSpec]]
    * ordering contract: a crash between the two writes leaves a spec
    * with no index, never an index with no spec).
    */
  def build(rows: DataFrame, table: String): Unit = {
    if (spec.nonEmpty) {
      val cells = spec ++ bucketBy.map(b => "buckets" -> b._1)
      IndexSpec.write(rows.sparkSession.range(0, 1, 1, 1)
        .select(cells.map { case (n, v) => lit(v).as(n) }: _*), table)
    }
    Sinks.saveTablePartitioned(rows, table, partitionBy, bucketBy, sortBy)
  }

  /** Create the EMPTY index (spec first) if absent — the bootstrap for
    * pipelines that probe or fold into the index from day one. No-op
    * when the table exists; the spec guard still applies on use.
    */
  def ensure(spark: SparkSession, table: String): Unit =
    if (!spark.catalog.tableExists(table))
      build(spark.createDataFrame(java.util.Collections.emptyList[Row](),
        schema), table)

  /** Fail loudly when `table` was built with different signature
    * parameters — mismatched hashes join nothing and lose recall
    * silently — or when its spec table is missing (a half-built index).
    */
  def requireSpec(spark: SparkSession, table: String): Unit =
    if (spec.nonEmpty) {
      val r = IndexSpec.readRequired(spark, table)
      val built = spec.map { case (n, _) => n -> r.getAs[Any](n) }
      def show(kv: Seq[(String, Any)]) =
        kv.map { case (n, v) => s"$n=$v" }.mkString(" ")
      require(built == spec, s"$table was built with ${show(built)}; " +
        s"got ${show(spec)} — $mismatch")
    }

  /** The table's own bucket/partition layout, read off the catalog (no
    * second copy to keep in sync; Spark validates it on append).
    */
  private def layoutOf(spark: SparkSession, table: String)
      : (Seq[String], Option[(Int, Seq[String])], Seq[String]) = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val b = meta.bucketSpec
    require(b.map(_.bucketColumnNames) == bucketBy.map(_._2) &&
        meta.partitionColumnNames == partitionBy,
      s"$table is not laid out as its index family builds it — was it " +
        "built by the family's build?")
    (meta.partitionColumnNames, b.map(s => (s.numBuckets,
      s.bucketColumnNames)), b.map(_.sortColumnNames).getOrElse(Nil))
  }

  /** Append rows as they are (after the spec check), in the table's own
    * layout — the docs-form appends that sign their own rows.
    */
  def append(rows: DataFrame, table: String): Unit = {
    val spark = rows.sparkSession
    requireSpec(spark, table)
    val (parts, buckets, sorts) = layoutOf(spark, table)
    Sinks.appendTablePartitioned(rows, table, parts, buckets, sorts)
  }

  /** Append only rows whose identity the index does not hold yet — so a
    * crashed-and-rerun fold appends nothing the second time. A
    * one-column index is a set already and anti-joins against itself;
    * wider ones against their distinct identities.
    */
  def appendRows(rows: DataFrame, table: String): Unit = {
    val ids = rows.sparkSession.table(table).select(identity)
    append(place(prepare(rows).join(
      if (schema.size == 1) ids else ids.distinct(), Seq(identity),
      "left_anti")), table)
  }

  /** Vacuum: rewrite the index keeping only rows whose identity is in
    * `keep` (one column named like [[identity]]), through the
    * crash-ordered swap. The layout is read INSIDE the swap, after its
    * heal: before that the index name can be vacant (rows parked under
    * `__vacuum` by a crashed swap).
    */
  def compact(spark: SparkSession, table: String, keep: DataFrame): Unit =
    PersistedIndex.swapIndexTable(spark, table) { tmp =>
      val (parts, buckets, sorts) = layoutOf(spark, table)
      // no .distinct() on the keep set: the semi-join has set semantics
      val kept = spark.table(table)
        .join(keep.select(identity), Seq(identity), "left_semi")
      Sinks.saveTablePartitioned(if (distinctOnCompact) kept.distinct()
        else kept, tmp, parts, buckets, sorts)
    }

  /** Fold a streaming ingest's batch_id-partitioned store into the
    * index; returns the batch ids folded. The store is left holding
    * ONLY its newest partition, and the ingest keeps probing store ∪
    * index, so the screen set is unchanged at any point of a fold.
    *
    * Why the newest partition never folds: batches run serially, so at
    * most the latest can be uncommitted and re-delivered. A replay
    * ignores the store rows its own first attempt wrote, but it cannot
    * know which INDEX rows came from itself — folding it would make
    * the replay screen out its own documents (data loss). Every batch
    * below the max is committed, therefore foldable.
    *
    * Crash-mid-fold idempotence: the append happens before the store
    * cleanup and anti-joins the index first, so a fold that crashed
    * between the two re-runs to the identical end state. A `dir` whose
    * files lack a store column fails before either ([[openStore]]).
    *
    * Run it between batches or while the stream is paused: a
    * concurrently planned screen that already listed the deleted files
    * would fail that attempt loudly (and recover by replay).
    */
  def foldStore(spark: SparkSession, dir: String, table: String): Seq[Long] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = PersistedIndex.storePartitions(fs, path)
    if (parts.size <= 1) return Nil // nothing safely foldable
    val keep = parts.max
    ensure(spark, table)
    // batch_id < keep partition-prunes the read to the snapshot above:
    // batch ids only grow, so a concurrent write never lands below it
    appendRows(fromStore(dir, PersistedIndex.openStore(spark, dir, storeSchema)
      .filter(col("batch_id") < keep).drop("batch_id")), table)
    val foldable = parts.filter(_ != keep)
    PersistedIndex.deletePartitions(fs, path, foldable)
    foldable
  }

  /** `table` as the catalog holds it NOW, for an ingest screen: it must
    * exist (a mistyped name fails loudly instead of skipping the screen)
    * and pass the spec guard. A foreachBatch body runs in the stream's
    * own session, whose relation cache keeps the listing of the batch
    * that first read it; an index fold between batches would otherwise
    * stay invisible and its fingerprints would stop screening. The spec
    * table is refreshed too: after a rebuild between batches the guard
    * must read the new spec, not fail on the files the rebuild deleted.
    */
  def current(spark: SparkSession, table: String, caller: String): DataFrame = {
    require(spark.catalog.tableExists(table),
      s"$caller: index table $table does not exist — bootstrap it with " +
        "its family's PersistedIndex.ensure at pipeline setup")
    val st = IndexSpec.specTable(table)
    if (spec.nonEmpty && spark.catalog.tableExists(st))
      spark.catalog.refreshTable(st)
    requireSpec(spark, table)
    spark.catalog.refreshTable(table)
    spark.table(table)
  }

  /** The probe-both screen set of an ingest tier: the store's rows plus,
    * when `table` is set, the folded history in the index (mapped to
    * the store's columns by `asStore`).
    */
  def priorRows(store: DataFrame, table: Option[String], caller: String,
      asStore: DataFrame => DataFrame = rows => rows): DataFrame =
    table.fold(store)(t => store.unionByName(asStore(
      current(store.sparkSession, t, caller)
        .select(schema.fieldNames.map(col).toSeq: _*))))
}

object PersistedIndex {

  /** The crash-ordered vacuum swap: heal any previously-crashed swap,
    * have `write` materialize the vacuumed rows under the `__vacuum`
    * side name, then swap with rename-before-drop — the index's name is
    * table-less only between the two RENAMEs, BOTH generations survive
    * a crash there, and [[healIndexSwap]] prefers the vacuumed one on
    * recovery. No plan ever reads the table it is replacing.
    */
  private[sources] def swapIndexTable(spark: SparkSession, table: String)(
      write: String => Unit): Unit = {
    healIndexSwap(spark, table)
    val tmp = s"${table}__vacuum"
    val old = s"${table}__old"
    write(tmp)
    spark.sql(s"ALTER TABLE $table RENAME TO $old")
    repairIfPartitioned(spark, old)
    graft.core.CrashHook.fire(s"swapRename1:$table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    repairIfPartitioned(spark, table)
    graft.core.CrashHook.fire(s"swapRename2:$table")
    // the session's relation cache can still hold the pre-swap file
    // index (observed: a renamed partitioned table serving the tmp
    // location's now-empty paths); refresh makes the swap visible
    spark.catalog.refreshTable(table)
    spark.sql(s"DROP TABLE $old")
    graft.core.CrashHook.fire(s"swapDrop:$table")
  }

  /** RENAME moves a managed table's directory but leaves hive-style
    * PARTITION catalog entries pointing at the OLD paths — a renamed
    * partitioned table (the IVF index's cell layout) reads empty, and
    * far worse, DROPPING it deletes the per-partition dirs at those
    * stale locations, which after a swap are the NEW table's data
    * (observed: the vacuumed index emptied by the superseded
    * generation's drop). MSCK SYNC both drops the stale entries and
    * re-registers the moved directories, so it must run on EVERY
    * renamed partitioned name — the one being kept AND the one about
    * to be dropped. Bucketed tables carry no per-partition entries and
    * need nothing.
    */
  private def repairIfPartitioned(spark: SparkSession, table: String): Unit =
    if (spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
        .partitionColumnNames.nonEmpty)
      spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")

  /** Recover an index-vacuum swap a crash left half-done — called on
    * every compaction entry, and public so an operator who hit the
    * (tiny) availability window can heal the index directly. The
    * possible crash states and their resolution:
    *
    *   - index present, `__vacuum` dangling (crashed before the first
    *     RENAME): the tmp is stale — drop it; the next vacuum rewrites.
    *   - index ABSENT, `__vacuum` present (crashed between the RENAMEs):
    *     the vacuumed rows are complete — rename them into place; a
    *     dangling `__old` is then the superseded generation, dropped.
    *   - index ABSENT, only `__old` present (cannot happen in the
    *     current ordering, kept for safety): restore the old
    *     generation — a stale-but-correct index beats none.
    *   - index present, `__old` dangling (crashed before the final
    *     DROP): the swap completed — drop the superseded generation.
    *
    * Renames and drops here are RECOVERY-path mutations: they only run
    * after a prior crash, so a clean run cannot enumerate them as
    * crash points; the hand-written heal-window tests cover them.
    */
  def healIndexSwap(spark: SparkSession, table: String): Unit = {
    val tmp = s"${table}__vacuum"
    val old = s"${table}__old"
    val cat = spark.catalog
    if (!cat.tableExists(table)) {
      if (cat.tableExists(tmp)) {
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        repairIfPartitioned(spark, table)
        cat.refreshTable(table)
      } else if (cat.tableExists(old)) {
        spark.sql(s"ALTER TABLE $old RENAME TO $table")
        repairIfPartitioned(spark, table)
        cat.refreshTable(table)
      }
    } else if (cat.tableExists(old) || cat.tableExists(tmp)) {
      // a dangling generation beside a LIVE table means a swap crashed
      // mid-flight — possibly between the tmp->table rename and its
      // repair, leaving the live table's partition entries pointing at
      // the moved __vacuum paths (it would read empty, and the NEXT
      // vacuum would semi-join that empty read into a permanently
      // empty index). MSCK SYNC is idempotent and cheap next to a
      // vacuum, so re-sync the live table unconditionally before any
      // cleanup.
      repairIfPartitioned(spark, table)
      cat.refreshTable(table)
    }
    // repair-before-drop: a crash BETWEEN a rename and its repair can
    // leave this dangling generation's partition entries pointing into
    // the live table's directory — dropping it then would delete live
    // data at those stale locations. Re-syncing first confines the
    // drop to the generation's own directory. (`tmp` needs none: it is
    // only ever a fresh saveAsTable with self-consistent entries.)
    if (cat.tableExists(old) && cat.tableExists(table)) {
      repairIfPartitioned(spark, old)
      spark.sql(s"DROP TABLE $old")
    }
    if (cat.tableExists(tmp) && cat.tableExists(table))
      spark.sql(s"DROP TABLE $tmp")
  }

  // ------------------------------------------- batch_id-partitioned stores

  /** The batch_id partitions currently in a store directory, ascending
    * (negative ids are the epoch-folded stores' fold partitions).
    */
  private[graft] def storePartitions(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).sorted

  /** GC a fold's superseded store partitions, one [[graft.core.CrashHook]]
    * site per delete. A crash between deletes leaves some folded
    * partitions on disk — rows the index already holds; the probe-both
    * screen stays correct (duplicate candidates dedup in the screens'
    * distinct/anti-join) and the next fold deletes the leftovers.
    */
  private[graft] def deletePartitions(fs: FileSystem, dir: Path,
      ids: Seq[Long]): Unit =
    ids.foreach { id =>
      fs.delete(new Path(dir, s"batch_id=$id"), true)
      graft.core.CrashHook.fire(s"foldDelete:$dir/batch_id=$id")
    }

  /** A batch_id-partitioned store written by the engine, opened with
    * its known row columns plus `batch_id`: no schema inference, so no
    * Spark job. A narrower integer column in the files (an INT `doc_id`
    * under a BIGINT schema) reads widened. Fails unless
    * [[requireStoreColumns]] finds every column of `schema` in the
    * store's files.
    */
  private def openStore(spark: SparkSession, dir: String,
      schema: StructType): DataFrame = {
    requireStoreColumns(spark, dir, schema)
    spark.read.schema(schema.add("batch_id", LongType)).parquet(dir)
  }

  /** Fail unless one data file of the store `dir` holds every column of
    * `schema`, read off that file's footer on the driver (no Spark job).
    * A read by a known schema takes a column the files lack as NULL, so
    * a wrong directory — another family's store, or an ingest's landed
    * output — would screen nothing (every doc lands again) or fold NULL
    * rows into the index and then delete the directory's partitions.
    * A store without data files has nothing to misread.
    */
  private def requireStoreColumns(spark: SparkSession, dir: String,
      schema: StructType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    val file = storePartitions(fs, path).iterator.flatMap { id =>
      fs.listStatus(new Path(path, s"batch_id=$id")).iterator.filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
    }.nextOption()
    file.foreach { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
      val held = try reader.getFooter.getFileMetaData.getSchema.getFields
        .toArray(Array.empty[org.apache.parquet.schema.Type]).map(_.getName)
        finally reader.close()
      val resolver = spark.sessionState.conf.resolver
      val missing = schema.fieldNames.filterNot(n => held.exists(resolver(_, n)))
      require(missing.isEmpty, s"$dir is not a store of " +
        s"(${schema.fieldNames.mkString(", ")}): its file ${f.getPath} " +
        s"holds (${held.mkString(", ")}), without ${missing.mkString(", ")}")
    }
  }

  /** A store's rows (columns of `schema`) from every batch but
    * `batchId`: a replayed batch must see the store as it was before
    * its first attempt, or a crash between its store write and the
    * checkpoint commit would make the replay screen out its own rows.
    * A store that does not exist yet (the first batch) reads empty.
    * Opened with `schema` ([[openStore]]), so a batch starts no
    * schema-inference job; a directory whose files lack a column of
    * `schema` fails.
    */
  def readStore(spark: SparkSession, dir: String, batchId: Long,
      schema: StructType): DataFrame =
    try openStore(spark, dir, schema).filter(col("batch_id") =!= batchId)
      .select(schema.fieldNames.map(col).toSeq: _*)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    }

  /** Exactly-once write of one micro-batch into its OWN `batch_id=N`
    * partition (dynamic partition overwrite — other partitions
    * untouched). foreachBatch delivers at least once: a batch replayed
    * after a failure between the write and the checkpoint commit keeps
    * its id, so it rewrites the same partition with the same rows
    * instead of appending duplicates.
    */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long,
      path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)
}
