package org.apache.spark.sql

import java.io.CharArrayWriter
import java.nio.charset.StandardCharsets.UTF_8

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.hadoop.io.Text
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.input.{FileSplit, LineRecordReader}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVInferSchema,
  CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser,
  JacksonGenerator, JacksonParser, JsonInferSchema, JSONOptions,
  JSONOptionsInRead}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{CodecStreams, FileFormat,
  FileIndex, HadoopFsRelation, PartitionDirectory, PartitionedFile,
  RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.execution.datasources.json.MultiLineJsonDataSource
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, NullType,
  StringType, StructField, StructType}
import org.apache.spark.sql.util.SchemaUtils

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
  *     and the bytes are the bytes `Dataset.toJSON` writes for them;
  *   - Spark's own CSV and JSON schema inference, replayed on the
  *     calling thread over the same readers ([[inferCsv]],
  *     [[inferJson]]). `Extractor` infers a blob no larger than one
  *     file split with them: `spark.read` runs this code in one task
  *     per job (the file is one split), so the schema is the one it
  *     infers, without the data-source resolution and the jobs.
  * The readers, the header checker, the inference steps, the JSON
  * generator and the field lookups [[fieldIndex]] uses are
  * `private[sql]` or only reachable through `FileFormat.buildReader` or
  * a Spark job, so this is the second place graft crosses into Spark's
  * package-private API (after [[GraftPlanApi]]).
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

  /** Spark's `HadoopFileLinesReader` for whole files, over one task
    * context: building the context copies the whole Hadoop conf into a
    * `JobConf`, the reader's costliest set-up, so it is built once.
    * Each file is then opened as that reader opens it: a
    * `LineRecordReader` over the file as one split (a line ends at CR,
    * LF or CRLF unless a separator is given; a UTF-8 BOM is skipped) in
    * Spark's `RecordReaderIterator`. */
  final class Lines(hadoopConf: Configuration) {
    private val context = new TaskAttemptContextImpl(hadoopConf,
      new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

    /** The file's lines, split and decoded as `opts` says; `use` runs
      * before the file is closed. */
    def apply[T](file: PartitionedFile, opts: CSVOptions)(
        use: Iterator[String] => T): T = {
      val reader = opts.lineSeparatorInRead
        .fold(new LineRecordReader)(new LineRecordReader(_))
      reader.initialize(new FileSplit(file.toPath, file.start, file.length,
        Array.empty[String]), context)
      val lines = new RecordReaderIterator[Text](reader)
      try use(lines.map(l =>
        new String(l.getBytes, 0, l.getLength, opts.charset)))
      finally lines.close()
    }
  }

  private def csvOptions(spark: SparkSession, options: Map[String, String])
      : CSVOptions = {
    val c = conf(spark)
    new CSVOptions(options, c.csvColumnPruning, c.sessionLocalTimeZone,
      c.columnNameOfCorruptRecord)
  }

  private def jsonOptions(spark: SparkSession, options: Map[String, String])
      : JSONOptions = new JSONOptionsInRead(CaseInsensitiveMap(options),
    conf(spark).sessionLocalTimeZone, conf(spark).columnNameOfCorruptRecord)

  /** `CSVFileFormat.buildReader` for one file with every column
    * required, then `TextInputCSVDataSource.readFile`'s body. */
  def readCsv(spark: SparkSession, lines: Lines, path: java.nio.file.Path,
      schema: StructType, options: Map[String, String])
      : IndexedSeq[InternalRow] = SQLConf.withExistingConf(conf(spark)) {
    val opts = csvOptions(spark, options)
    val dataSchema = StructType(
      schema.filterNot(_.name == opts.columnNameOfCorruptRecord))
    val parser = new UnivocityParser(dataSchema, dataSchema, opts, Seq.empty)
    val file = wholeFile(path)
    val checker = new CSVHeaderChecker(dataSchema, opts,
      s"CSV file: ${file.urlEncodedPath}", true)
    lines(file, opts)(in =>
      UnivocityParser.parseIterator(in, parser, checker, schema)
        .map(_.copy()).toIndexedSeq)
  }

  /** The schema `spark.read.options(options).csv(path)` infers, by
    * `TextInputCSVDataSource.infer` and `inferFromDataset` over the
    * file's lines. The header is the first line with a character other
    * than a space that is not a comment (the `Dataset` filter of
    * `CSVUtils.filterCommentAndEmpty`, which trims spaces only), named
    * by `CSVUtils.makeSafeHeader`. With `inferSchema`, the lines after
    * it (those before it are all dropped by the iterator filter too)
    * go through the iterator `filterCommentAndEmpty` and
    * `filterHeaderLine`, are tokenized by one `CsvParser`, and
    * `CSVInferSchema.inferRowType` folds them from a fresh `NullType`
    * row (the file's one partition); else every column is a string.
    * Only a `header` read without sampling (what `Extractor` asks for)
    * is replayed: anything else throws. */
  def inferCsv(spark: SparkSession, lines: Lines, path: java.nio.file.Path,
      options: Map[String, String]): StructType =
    SQLConf.withExistingConf(conf(spark)) {
      val opts = csvOptions(spark, options)
      require(opts.headerFlag && opts.samplingRatio == 1.0,
        "not a header-first, unsampled inference")
      def comment(l: String) =
        opts.isCommentSet && l.startsWith(opts.comment.toString)
      lines(wholeFile(path), opts) { in =>
        val first = in.find(l => l.exists(_ != ' ') && !comment(l))
        first.map(new CsvParser(opts.asParserSettings).parseLine) match {
          case Some(firstRow) if firstRow != null =>
            val header = CSVUtils.makeSafeHeader(firstRow,
              conf(spark).caseSensitiveAnalysis, opts)
            if (!opts.inferSchemaFlag)
              StructType(header.map(StructField(_, StringType)))
            else {
              val parser = new CsvParser(opts.asParserSettings)
              val infer = new CSVInferSchema(opts)
              val types = CSVUtils.filterHeaderLine(
                CSVUtils.filterCommentAndEmpty(in, opts), first.get, opts)
                .map(parser.parseLine)
                .foldLeft(Array.fill[DataType](header.length)(NullType))(
                  infer.inferRowType)
              StructType(infer.toStructFields(types, header))
            }
          case _ => StructType(Nil)
        }
      }
    }

  /** `JsonFileFormat.buildReader` for one file with every column
    * required, then `MultiLineJsonDataSource.readFile` (its Jackson
    * parser closes the stream once the file's one array is read). */
  def readJson(spark: SparkSession, path: java.nio.file.Path,
      schema: StructType, options: Map[String, String])
      : IndexedSeq[InternalRow] = SQLConf.withExistingConf(conf(spark)) {
    val opts = jsonOptions(spark, options)
    val parser = new JacksonParser(
      StructType(schema.filterNot(_.name == opts.columnNameOfCorruptRecord)),
      opts, allowArrayAsStructs = true, Seq.empty)
    MultiLineJsonDataSource.readFile(spark.sparkContext.hadoopConfiguration,
      wholeFile(path), parser, schema).map(_.copy()).toIndexedSeq
  }

  /** The schema `spark.read.options(options).json(path)` infers for a
    * `multiLine` file, by `MultiLineJsonDataSource.infer`: Jackson's
    * `inferField` on the file's one top-level value, merged by
    * `compatibleRootType` into the empty struct twice (the partition's
    * fold, then the driver's merge of its result), canonicalized
    * ([[canonical]]), then the duplicate-name check
    * `DataSource.resolveRelation` makes. A malformed file throws here,
    * where Spark's `PERMISSIVE` inference would give a corrupt-record
    * column. */
  def inferJson(spark: SparkSession, path: java.nio.file.Path,
      options: Map[String, String]): StructType =
    SQLConf.withExistingConf(conf(spark)) {
      val opts = jsonOptions(spark, options)
      require(opts.multiLine && opts.encoding.isEmpty &&
        opts.samplingRatio == 1.0, "not a one-record inference")
      val infer = new JsonInferSchema(opts)
      val one = scala.util.Using.Manager { use =>
        val in = use(CodecStreams.createInputStreamWithCloseResource(
          spark.sparkContext.hadoopConfiguration, new HadoopPath(path.toUri)))
        val parser =
          use(CreateJacksonParser.inputStream(opts.buildJsonFactory(), in))
        parser.nextToken()
        infer.inferField(parser)
      }.get
      val merge = JsonInferSchema.compatibleRootType(
        opts.columnNameOfCorruptRecord, opts.parseMode)
      val schema = canonical(
        merge(StructType(Nil), merge(StructType(Nil), one)), opts)
        .collect { case s: StructType => s }.getOrElse(StructType(Nil))
      SchemaUtils.checkSchemaColumnNameDuplication(schema, conf(spark).resolver)
      schema
    }

  /** `JsonInferSchema.canonicalizeType`, which is `private[json]`,
    * restated: an empty struct or an unnamed field is dropped, an
    * all-null field is a string (or dropped with `dropFieldIfAllNull`). */
  private def canonical(tpe: DataType, opts: JSONOptions): Option[DataType] =
    tpe match {
      case at: ArrayType => canonical(at.elementType, opts)
        .map(t => at.copy(elementType = t))
      case StructType(fields) =>
        val kept = fields.filter(_.name.nonEmpty).flatMap(f =>
          canonical(f.dataType, opts).map(t => f.copy(dataType = t)))
        if (kept.isEmpty) None else Some(StructType(kept))
      case NullType => if (opts.dropFieldIfAllNull) None else Some(StringType)
      case other => Some(other)
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
