package org.apache.spark.sql

import java.io.CharArrayWriter
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions,
  UnivocityParser}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JacksonParser,
  JSONOptions, JSONOptionsInRead}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex,
  HadoopFileLinesReader, HadoopFsRelation, PartitionDirectory,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.MultiLineJsonDataSource
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** One immutable file as Spark reads it, without resolving it through
  * `spark.read`:
  *   - [[oneFile]]: the relation `spark.read.schema(s).options(o)`
  *     resolves for the file (`DataSource.resolveRelation`), built
  *     directly over an index that lists just that file. `Extractor`
  *     reads every blob whose reader schema it knows with it, on the
  *     driver path and the Spark path alike;
  *   - Spark's own per-file CSV and JSON readers and its `toJSON`
  *     writer, run on the calling thread for the whole file.
  *     `Extractor.serve` reads a blob no larger than one file split
  *     with them: Spark's scan of such a file is one task running
  *     exactly this code, so the rows are the rows that scan yields,
  *     and the bytes are the bytes `Dataset.toJSON` writes for them.
  * The readers, the header checker, the JSON generator and the field
  * lookups [[fieldIndex]] uses are `private[sql]` or only reachable
  * through `FileFormat.buildReader`, so this is the second place graft
  * crosses into Spark's package-private API (after [[GraftPlanApi]]).
  */
object GraftFileScan {

  private def conf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `spark.sql.files.openCostInBytes`: a file no larger than this is
    * never split, whatever the core count. */
  def openCostInBytes(spark: SparkSession): Long =
    conf(spark).filesOpenCostInBytes

  /** The file's status as Spark's listing of the local file system
    * gives it: the `file:///` path, size and mtime. Spark splits a file
    * by its own conf, not by the block size. */
  private def status(path: java.nio.file.Path): FileStatus = {
    val attrs = java.nio.file.Files.readAttributes(path,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    new FileStatus(attrs.size, false, 1, attrs.size,
      attrs.lastModifiedTime.toMillis, new HadoopPath(path.toUri))
  }

  private def wholeFile(path: java.nio.file.Path): PartitionedFile = {
    val st = status(path)
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0,
      st.getLen, Array.empty, st.getModificationTime, st.getLen)
  }

  /** What an `InMemoryFileIndex` over one file lists, with no listing:
    * the file is content-addressed, so it never changes. */
  private final class OneFileIndex(file: FileStatus) extends FileIndex {
    def rootPaths: Seq[HadoopPath] = Seq(file.getPath)
    // like the listing, an empty file is not scanned
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty,
        Array(file).filter(_.getLen > 0)))
    def inputFiles: Array[String] = Array(file.getPath.toUri.toString)
    def refresh(): Unit = ()
    def sizeInBytes: Long = file.getLen
    def partitionSchema: StructType = new StructType()
  }

  /** The frame `spark.read.schema(schema).options(options)` reads from
    * the one file at `path` in `format`: the same `HadoopFsRelation`,
    * without the data-source lookup, the glob check, the listing and
    * the copies of the Hadoop conf that resolving it costs. */
  def oneFile(spark: SparkSession, path: java.nio.file.Path,
      format: FileFormat, schema: StructType,
      options: Map[String, String]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new OneFileIndex(status(path)), new StructType(), schema.asNullable,
      None, format, CaseInsensitiveMap(options))(spark))

  /** A field's index as Catalyst's resolver finds it: the exact name,
    * else the name in any case. */
  def fieldIndex(schema: StructType, name: String): Option[Int] =
    schema.getFieldIndex(name)
      .orElse(schema.getFieldIndexCaseInsensitive(name))

  /** `CSVFileFormat.buildReader` for one file with every column
    * required, then `TextInputCSVDataSource.readFile`'s body: its lines
    * reader is closed here, where no task completion would close it. */
  def readCsv(spark: SparkSession, path: java.nio.file.Path,
      schema: StructType, options: Map[String, String])
      : IndexedSeq[InternalRow] = SQLConf.withExistingConf(conf(spark)) {
    val c = conf(spark)
    val opts = new CSVOptions(options, c.csvColumnPruning,
      c.sessionLocalTimeZone, c.columnNameOfCorruptRecord)
    val dataSchema = StructType(
      schema.filterNot(_.name == opts.columnNameOfCorruptRecord))
    val parser = new UnivocityParser(dataSchema, dataSchema, opts, Seq.empty)
    val file = wholeFile(path)
    val checker = new CSVHeaderChecker(dataSchema, opts,
      s"CSV file: ${file.urlEncodedPath}", true)
    val lines = new HadoopFileLinesReader(file, opts.lineSeparatorInRead,
      spark.sparkContext.hadoopConfiguration)
    try UnivocityParser.parseIterator(
        lines.map(l => new String(l.getBytes, 0, l.getLength, opts.charset)),
        parser, checker, schema)
      .map(_.copy()).toIndexedSeq
    finally lines.close()
  }

  /** `JsonFileFormat.buildReader` for one file with every column
    * required, then `MultiLineJsonDataSource.readFile` (its Jackson
    * parser closes the stream once the file's one array is read). */
  def readJson(spark: SparkSession, path: java.nio.file.Path,
      schema: StructType, options: Map[String, String])
      : IndexedSeq[InternalRow] = SQLConf.withExistingConf(conf(spark)) {
    val c = conf(spark)
    val opts = new JSONOptionsInRead(CaseInsensitiveMap(options),
      c.sessionLocalTimeZone, c.columnNameOfCorruptRecord)
    val parser = new JacksonParser(
      StructType(schema.filterNot(_.name == opts.columnNameOfCorruptRecord)),
      opts, allowArrayAsStructs = true, Seq.empty)
    MultiLineJsonDataSource.readFile(spark.sparkContext.hadoopConfiguration,
      wholeFile(path), parser, schema).map(_.copy()).toIndexedSeq
  }

  /** `[row,row,...]` as UTF-8, each row written by the generator and
    * options `Dataset.toJSON` uses, so each element is the string
    * `toJSON` yields for that row. */
  def jsonArray(spark: SparkSession, schema: StructType,
      rows: Iterator[InternalRow]): Array[Byte] =
    SQLConf.withExistingConf(conf(spark)) {
      val out = new CharArrayWriter()
      val gen = new JacksonGenerator(schema, out,
        new JSONOptions(Map.empty[String, String],
          conf(spark).sessionLocalTimeZone))
      out.write('[')
      var first = true
      rows.foreach { r =>
        if (!first) out.write(',')
        gen.write(r)
        gen.flush()
        first = false
      }
      gen.close()
      out.write(']')
      out.toString.getBytes(UTF_8)
    }
}
