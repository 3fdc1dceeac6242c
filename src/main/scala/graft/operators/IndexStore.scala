package graft.operators

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VersionedSlots
import graft.model.{HashPartition, IndexDef, KeyPartition, RangePartition, SinglePartition}

/** Persisted index storage — the durable form of a built index.
  *
  * Layout: range-partitioned by leading key, sorted within partitions by
  * (key..., docid), written as parquet. Each file then covers a disjoint
  * key range and carries min/max column statistics in its footer, so a
  * point/range scan ([[IndexScan]]) prunes to the few files/row-groups that
  * overlap the predicate — the Spark rendition of the reference's ordered
  * key→docid index (sorted collatejson keys, reference
  * `Projector/JSEvaluate.go:56-130`). At cluster scale the same layout
  * means a scan touches O(selectivity) of the data, not O(index).
  *
  * HASH/KEY partition schemes write a `part=` directory column instead —
  * co-locating one partition's entries for partition-pruned lookups
  * (reference vbucket routing, `projector.go:116-126`).
  */
object IndexStore {

  def write(index: DataFrame, path: String, defn: IndexDef,
            numFiles: Int = 8): Unit = {
    val keys = index.columns.filter(c => c != "docid" && c != "part").toSeq
    val sortCols = (keys :+ "docid").map(col)
    // the range/single layouts write plain files, which carry schema
    // even at zero rows; the part= layouts need [[plantIfEmpty]]
    defn.partition match {
      case HashPartition(pkeys, n) =>
        index.withColumn("part", pmod(hash(pkeys.map(col): _*), lit(n)))
          .repartition(col("part"))
          .sortWithinPartitions(sortCols: _*)
          .write.mode("overwrite").partitionBy("part").parquet(path)
        plantIfEmpty(index, path, "part", 0)
      case KeyPartition(n) =>
        // a primary index has no secondary keys — its key is the docid
        // (hash() with zero args fails analysis)
        val kcols = if (keys.nonEmpty) keys else Seq("docid")
        index.withColumn("part", pmod(hash(kcols.map(col): _*), lit(n)))
          .repartition(col("part"))
          .sortWithinPartitions(sortCols: _*)
          .write.mode("overwrite").partitionBy("part").parquet(path)
        plantIfEmpty(index, path, "part", 0)
      case RangePartition(pkeys, n) =>
        // honor the declared partition keys; fall back to the full sort
        // order when the spec leaves them empty
        val rangeCols = if (pkeys.nonEmpty) pkeys.map(col) else sortCols
        index.repartitionByRange(n, rangeCols: _*)
          .sortWithinPartitions(sortCols: _*)
          .write.mode("overwrite").parquet(path)
      case SinglePartition =>
        index.repartitionByRange(numFiles, sortCols: _*)
          .sortWithinPartitions(sortCols: _*)
          .write.mode("overwrite").parquet(path)
    }
  }

  /** After a `partitionBy(partCol)` write of `rows` to `path`: an EMPTY
    * write leaves `_SUCCESS` but zero data files, and a parquet read over
    * file-less directories cannot infer schema — a committed-but-empty
    * batch (the compact fold of a fully-tombstoned store, an empty delete
    * list) would wedge every reader. Plant one 0-row schema-carrying file
    * under `partCol=value` (no extra job for a non-empty write). Only a
    * real listing showing zero partition directories plants: `listFiles`
    * is null for URI-form / non-local paths, which is no evidence of an
    * empty write, and planting there would overwrite a real partition.
    */
  private[graft] def plantIfEmpty(rows: DataFrame, path: String,
                                  partCol: String, value: Int): Unit = {
    val provenEmpty = Option(new java.io.File(path).listFiles).exists(
      !_.exists(f => f.isDirectory && f.getName.startsWith(s"$partCol=")))
    if (provenEmpty)
      rows.limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$path/$partCol=$value")
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Persist the index as a BUCKETED table: co-locates rows by `by` into a
    * fixed bucket count so subsequent equi-joins/aggregations on the
    * bucket key need NO exchange on this side — the persistent form of the
    * reference's fixed vbucket→node placement (`projector.go:99-126`). At
    * cluster scale this is how an index joins probe/docid sets repeatedly
    * without re-shuffling terabytes each time ([[IndexStoreSpec]] asserts
    * the bucketed-join plan is exchange-free).
    */
  def writeBucketed(index: DataFrame, table: String, buckets: Int,
                    by: Seq[String] = Seq("docid")): Unit =
    index.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, by.head, by.tail: _*)
      .sortBy(by.head, by.tail: _*)
      .saveAsTable(table)

  def readTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  // ------------------------------------------- versioned store (DDL wire)

  /** The flat persisted form of an [[IndexDef]] — what the DDL wire can
    * express (partitioning stays [[SinglePartition]]; the richer schemes
    * are driver-code decisions, like everywhere else declarative surface
    * meets code surface).
    */
  // funcName defaults to None so def.json files written before the
  // field existed still deserialize
  private final case class StoredDef(name: String, source: String,
      docidExpr: String, secExprs: Seq[String], whereExpr: Option[String],
      desc: Seq[Boolean], isPrimary: Boolean, isArrayIndex: Boolean,
      funcName: Option[String] = None)

  private implicit val formats: Formats = DefaultFormats
  /** The version slots: `v<N>/`, visible once `def.json` lands. */
  private val Versions = VersionedSlots.Dirs("def.json", "index")

  /** Visible versions under a versioned index store, ascending — a
    * version exists only once its `def.json` marker does (published LAST
    * by [[buildVersioned]]), the [[graft.operators.AnnIndex]] contract.
    */
  def versionsOf(dir: String): Seq[Int] = Versions.versions(dir)

  /** Build `defn` over `source` and persist it as the NEXT immutable
    * version under `dir` — the engine's core object (the scalar index,
    * reference open-stream DDL `kv_sender.go:134-151`) given the same
    * versioned-store lifecycle as the ANN/tokenizer/library artifacts:
    * slot claimed exclusively, entries written under `v<N>/entries`,
    * the serialized definition published LAST as the visibility marker.
    * Returns the claimed version.
    */
  def buildVersioned(source: DataFrame, dir: String, defn: IndexDef,
                     catalog: graft.functions.FunctionCatalog =
                       new graft.functions.FunctionCatalog,
                     numFiles: Int = 8): Int = {
    val v = Versions.claimNext(dir)
    // buildEntries, not build: write() re-establishes the layout, so
    // build's own sortAndPartition pass would be computed and discarded
    // (for SinglePartition: the whole build through one coalesce task)
    write(IndexBuilder.buildEntries(source, defn, catalog),
      s"$dir/v$v/entries", defn, numFiles)
    Versions.publish(dir, v, Serialization.write(StoredDef(defn.name,
      defn.source, defn.docidExpr, defn.secExprs, defn.whereExpr, defn.desc,
      defn.isPrimary, defn.isArrayIndex, defn.funcName)))
    v
  }

  /** A pinned version's entries. */
  def readVersion(spark: SparkSession, dir: String, version: Int): DataFrame =
    graft.plans.StoreReads.parquet(spark, Seq(s"$dir/v$version/entries"))

  /** A pinned version's definition (immutable). */
  def loadDef(dir: String, version: Int): IndexDef = {
    val d = Serialization.read[StoredDef](Versions.readMarker(dir, version))
    IndexDef(d.name, d.source, d.docidExpr, secExprs = d.secExprs,
      funcName = d.funcName, whereExpr = d.whereExpr, desc = d.desc,
      isPrimary = d.isPrimary, isArrayIndex = d.isArrayIndex)
  }

  /** The newest visible version, if any. */
  def latestVersion(dir: String): Option[Int] = Versions.latest(dir)

  /** Explicit version GC ([[VersionedSlots.gcShadowed]], marker-first
    * decommission via `def.json`). Returns the versions deleted.
    */
  def gcVersioned(dir: String, keepLast: Int = 2): Seq[Int] =
    Versions.gc(dir, keepLast)

  /** Persist a table clustered by a Z-ORDER key over `dims`
    * ([[graft.functions.ZOrder]]): range-partitioned and sorted by the
    * interleaved key, so every file's min-max footer stats are tight in
    * EVERY listed dimension — predicate boxes on any subset of the dims
    * prune files, where [[write]]'s single-key sort prunes only its
    * leading key. The key column itself is dropped from the files; it is
    * purely a layout device. (`ZOrderSpec` measures the pruning win.)
    */
  def writeZOrdered(df: DataFrame, path: String, dims: Seq[String],
                    numFiles: Int = 8, bitsPer: Int = 21): Unit = {
    val z = graft.functions.ZOrder.key(bitsPer, dims.map(col): _*)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
