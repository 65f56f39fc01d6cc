package org.apache.spark.sql

import java.io.CharArrayWriter
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{Path => HadoopPath}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions,
  UnivocityParser}
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JacksonParser,
  JSONOptions, JSONOptionsInRead}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader,
  PartitionedFile}
import org.apache.spark.sql.execution.datasources.json.MultiLineJsonDataSource
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's own per-file CSV and JSON readers and its `toJSON` writer,
  * run on the calling thread for one whole file. `Extractor.serve`
  * reads a blob no larger than one file split with them: Spark's scan
  * of such a file is one task running exactly this code, so the rows
  * are the rows that scan yields, and the bytes are the bytes
  * `Dataset.toJSON` writes for them. The readers, the header checker
  * and the JSON generator are `private[sql]` or only reachable through
  * `FileFormat.buildReader`, so this is the second place graft crosses
  * into Spark's package-private API (after [[GraftPlanApi]]).
  */
object GraftFileScan {

  private def conf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** `spark.sql.files.openCostInBytes`: a file no larger than this is
    * never split, whatever the core count. */
  def openCostInBytes(spark: SparkSession): Long =
    conf(spark).filesOpenCostInBytes

  private def wholeFile(path: java.nio.file.Path): PartitionedFile = {
    val size = java.nio.file.Files.size(path)
    PartitionedFile(InternalRow.empty,
      SparkPath.fromPath(new HadoopPath(path.toUri)), 0, size,
      Array.empty, 0L, size)
  }

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
