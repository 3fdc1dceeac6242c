package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Parquet reads of the engine's own stores without the Spark job that
  * schema inference runs. Every store here is written by Spark, so each
  * data file's footer carries Spark's row schema; the driver reads one
  * footer instead of scheduling a footer-reading job per read.
  */
object StoreReads {

  /** `spark.read.parquet(paths: _*)` (with `basePath` when given, so
    * partition directories below it become columns) read with `schema`
    * when the caller knows the stored row schema, else through
    * [[footerSchema]] when it resolves, else through Spark's inference.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
              basePath: Option[String] = None,
              schema: Option[StructType] = None): DataFrame = {
    val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    schema.orElse(footerSchema(spark, paths))
      .fold(reader.parquet(paths: _*))(reader.schema(_).parquet(paths: _*))
  }

  /** The batch directories `b=<id>` of one store table under `root`, as
    * one frame — the committed-batch read of every batch-directory
    * store. `withBatch` reads with `root` as the base path, so `b` (and
    * any partition directories below it) become columns; `schema` as in
    * [[parquet]].
    */
  def batches(spark: SparkSession, root: String, ids: Seq[Long],
              withBatch: Boolean = true,
              schema: Option[StructType] = None): DataFrame =
    parquet(spark, ids.map(b => s"$root/b=$b"),
      if (withBatch) Some(root) else None, schema)

  /** The data schema `spark.read.parquet(paths: _*)` infers, without the
    * Spark job that inference runs: Spark's row schema from the footer of
    * the file its non-merging inference picks — the first data file in
    * path order among every leaf file under `paths`, partition
    * subdirectories (`b=N/c_id=C/`) included (the store's writers leave
    * no summary files; a batch directory holding only `_SUCCESS` adds no
    * candidate). Passed to `spark.read.schema`, it reads as the
    * inferred one does (both come out nullable; partition columns are
    * still discovered from the paths). None when schema merging is on or
    * that footer lacks Spark's schema key; the caller then lets Spark
    * infer.
    */
  def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      // the names Spark's file listing skips (`_SUCCESS`, `.crc`, ...);
      // an `=` marks a partition value, which it keeps
      def hidden(st: FileStatus) = {
        val n = st.getPath.getName
        (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
          n.endsWith("._COPYING_")
      }
      def leaves(dir: Path): Seq[FileStatus] =
        dir.getFileSystem(conf).listStatus(dir).toSeq.filterNot(hidden)
          .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
      paths.flatMap(p => leaves(new Path(p)))
        .sortBy(_.getPath.toString).headOption.flatMap { first =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf))
          val json =
            try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkRowSchemaKey))
            finally reader.close()
          json.flatMap(j => scala.util.Try(DataType.fromJson(j)).toOption)
            .collect { case s: StructType => s }
        }
    }

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkRowSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
}
