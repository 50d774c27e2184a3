package graft.sources

import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Driver-side parquet footer reads: what a plain `spark.read.parquet`
  * would learn from a footer, without the one-task schema-inference
  * job Spark launches to read it. A footer is a few KB of metadata the
  * driver opens directly; the job costs a scheduler round trip per
  * read (tens of ms), which a daily cycle of small reads pays dozens
  * of times.
  *
  * Every parquet footer or bloom open in graft goes through
  * [[withReader]], with read options built from an already-loaded
  * Hadoop conf: parquet's default options build a fresh
  * `Configuration`, whose first use parses the XML resource chain of
  * the whole classpath (~10 ms an open, against ~0.3 ms loaded). */
object ParquetFooters {

  /** The conf of opens that have no session at hand (table files by
    * root and rel, also inside tasks), loaded once. Read-only: a caller
    * that sets keys takes a copy, `new Configuration(hadoopConf)`, which
    * copies the loaded properties without parsing them again. */
  private[graft] lazy val hadoopConf: Configuration = {
    val c = new Configuration()
    c.size() // parse the resources now, once
    c
  }

  /** The file `rel` of table `root`, opened over [[hadoopConf]]. */
  private[graft] def inputFile(root: String, rel: String): HadoopInputFile =
    HadoopInputFile.fromPath(new Path(Paths.get(root, rel).toUri), hadoopConf)

  /** `f` over an open reader of `in`'s footer, closed afterwards. The
    * read options come from the conf `in` was made with. */
  private[graft] def withReader[T](in: HadoopInputFile)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(in, HadoopReadOptions.builder(in.getConfiguration).build())
    try f(r) finally r.close()
  }

  /** The data files of `path` — the file itself, or a directory's leaf
    * files minus the names Spark's file index hides (`_`/`.`-prefixed:
    * `_SUCCESS`, checksums, summary files) at any level. Empty when the
    * path does not exist. */
  private def dataFiles(s: SparkSession, path: String): Seq[FileStatus] = {
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    // qualified, as listed paths are: only names BELOW `path` may hide a
    // file, never an ancestor directory such as a `.cache` working dir
    val p = fs.makeQualified(new Path(path))
    if (!fs.exists(p)) Nil
    else if (fs.getFileStatus(p).isFile) Seq(fs.getFileStatus(p))
    else {
      def hidden(n: String) = n.startsWith("_") || n.startsWith(".")
      val it = fs.listFiles(p, true)
      val out = Seq.newBuilder[FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (!p.toUri.relativize(f.getPath.toUri).getPath.split('/').exists(hidden)) out += f
      }
      out.result().sortBy(_.getPath.toString)
    }
  }

  private def footer[T](s: SparkSession, f: FileStatus)(g: ParquetMetadata => T): T =
    withReader(HadoopInputFile.fromStatus(f, s.sparkContext.hadoopConfiguration))(r =>
      g(r.getFooter))

  /** The schema `spark.read.parquet(path).schema` infers for a file, or
    * for a directory of UNIFORM files (one footer speaks for all, as
    * Spark's non-merging inference assumes): the footer converted by
    * Spark's own [[ParquetFileFormat.readSchemaFromFooter]] under the
    * session's conf — the Spark row-metadata key when the writer left
    * one, `nanosAsLong`, INT96 and binary settings — made nullable, as
    * a file relation exposes it. A path with no data file goes to
    * Spark's inference, which reports it. */
  def schema(s: SparkSession, path: String): StructType =
    dataFiles(s, path).headOption match {
      case Some(f) =>
        val converter = new ParquetToSparkSchemaConverter(s.sessionState.conf)
        GraftShim.asNullable(footer(s, f)(m =>
          ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, m), converter)))
      case None => s.read.parquet(path).schema
    }

  /** Rows of `path` summed over its data files' row groups — footer
    * metadata, never a scan. */
  def rowCount(s: SparkSession, path: String): Long = {
    val files = dataFiles(s, path)
    if (files.isEmpty) throw new java.io.FileNotFoundException(s"no parquet data file at $path")
    files.map(f => footer(s, f)(m => m.getBlocks.stream.mapToLong(_.getRowCount).sum)).sum
  }

  /** `spark.read.parquet(paths)` over uniform files with the schema
    * taken from the first path's footer instead of inferred by a job. */
  def read(s: SparkSession, paths: Seq[String]): DataFrame =
    s.read.schema(schema(s, paths.head)).parquet(paths: _*)
}
