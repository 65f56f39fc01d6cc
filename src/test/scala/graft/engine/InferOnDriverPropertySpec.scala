package graft.engine

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, JsonNodeFactory,
  ObjectNode}

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.GraftFileScan
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec
import graft.schema.JsonSchema

/** Schema inference on the driver (`GraftFileScan.inferCsv`,
  * `inferJson`) against `spark.read`'s inference, over generated blobs:
  * where the driver answers, its `StructType` and the `JsonSchema`
  * document built from it are the ones `spark.read` infers; where it
  * throws, `Extractor` falls back to `spark.read`, so an upload's
  * `/schema` is `spark.read`'s document (or its failure) either way.
  *
  * CSV blobs carry ints, longs that overflow to decimal, doubles,
  * booleans, timestamps, empty values, quoted commas, a quoted newline
  * (read line by line on both paths), duplicate, blank and
  * case-colliding header names, blank, space-only and tab-only lines,
  * a UTF-8 BOM, LF, CRLF and bare-CR line endings, and header-only
  * files. JSON blobs carry nested objects, arrays, int/double/string
  * mixes, all-null fields, `[]`, a single top-level object, keys that
  * collide in case, and malformed text.
  */
class InferOnDriverPropertySpec extends SparkSpec {

  private lazy val lake =
    new Lake(spark, Files.createTempDirectory("infer-driver"))
  private lazy val lines =
    new GraftFileScan.Lines(spark.sparkContext.hadoopConfiguration)
  private lazy val dir = Files.createTempDirectory("infer-blobs")
  private val mapper = new ObjectMapper()

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  // --- blobs ---------------------------------------------------------

  /** A CSV field of a column kind: 0 int, 1 long or past long, 2 double,
    * 3 boolean, 4 timestamp, 5 text. */
  private def csvField(r: Random, kind: Int): String = r.nextInt(10) match {
    case 0 => "" // an empty value reads as null
    case 1 => pick(r, Seq("\"a,b\"", "\"two\nlines\"", "x", "NaN", " 7 "))
    case _ => kind match {
      case 0 => (r.nextInt(2000) - 1000).toString
      case 1 => pick(r, Seq((3000000000L + r.nextInt(9)).toString,
        "92233720368547758070", "-9223372036854775809", r.nextInt(9).toString))
      case 2 => pick(r, Seq(f"${r.nextDouble() * 100 - 50}%.3f", "1e5",
        "-0.5", r.nextInt(9).toString))
      case 3 => pick(r, Seq("true", "false", "TRUE", "False"))
      case 4 => pick(r, Seq("2024-01-02 03:04:05", "2024-01-02T03:04:05.123",
        s"2023-12-${10 + r.nextInt(18)} 00:00:00", "2024-02-30 01:00:00"))
      case _ => pick(r, Seq("abc", "Vietnam", "a b", "😀", "null"))
    }
  }

  private def csvBlob(r: Random): String = {
    val kinds = Seq.fill(1 + r.nextInt(6))(r.nextInt(6))
    val names = kinds.indices.map(i => r.nextInt(8) match {
      case 0 => ""
      case 1 => "dup"
      case 2 => "Dup"
      case 3 => "a b"
      case _ => s"c$i"
    })
    val eol = pick(r, Seq("\n", "\r\n", "\r"))
    val rows = Seq.fill(if (r.nextInt(6) == 0) 0 else 1 + r.nextInt(25)) {
      r.nextInt(14) match {
        case 0 => "" // a blank line
        case 1 => pick(r, Seq("   ", "\t", " \t "))
        case 2 => kinds.init.map(csvField(r, _)).mkString(",") // short
        case 3 => (kinds :+ 5).map(csvField(r, _)).mkString(",") // long
        case _ => kinds.map(csvField(r, _)).mkString(",")
      }
    }
    // a tab-only line before the header is the header: Spark finds it
    // with a SQL trim, which trims spaces only
    val lead = if (r.nextInt(5) == 0) Seq(pick(r, Seq("", "  ", "\t"))) else Nil
    val bom = if (r.nextInt(5) == 0) "\uFEFF" else ""
    bom + ((lead :+ names.mkString(",")) ++ rows).mkString(eol) +
      (if (r.nextBoolean()) eol else "")
  }

  private def jsonValue(r: Random, depth: Int): Any = r.nextInt(9) match {
    case 0 => r.nextInt(100) - 50
    case 1 => (r.nextInt(400) - 100) / 8.0
    case 2 => pick(r, Seq("s", "12", " 3", "2024-01-02"))
    case 3 => r.nextBoolean()
    case 4 => null
    case 5 if depth > 0 => Seq.fill(r.nextInt(3))(jsonValue(r, depth - 1))
    case 6 if depth > 0 =>
      Seq.fill(r.nextInt(3))(pick(r, Seq("k", "w", "", "K")) ->
        jsonValue(r, depth - 1)).toMap
    case _ => r.nextLong()
  }

  private def node(v: Any): com.fasterxml.jackson.databind.JsonNode = {
    val f = JsonNodeFactory.instance
    v match {
      case null => f.nullNode()
      case i: Int => f.numberNode(i)
      case l: Long => f.numberNode(l)
      case d: Double => f.numberNode(d)
      case s: String => f.textNode(s)
      case b: Boolean => f.booleanNode(b)
      case xs: Seq[_] =>
        val a: ArrayNode = f.arrayNode(); xs.foreach(x => a.add(node(x))); a
      case m: Map[_, _] =>
        val o: ObjectNode = f.objectNode()
        m.foreach { case (k, x) => o.set[ObjectNode](k.toString, node(x)) }
        o
    }
  }

  private def jsonObject(r: Random, keys: Seq[String]): Map[String, Any] =
    keys.filter(_ => r.nextInt(5) > 0).map(k =>
      k -> (if (k == "nothing") null else jsonValue(r, 2))).toMap

  private def jsonBlob(r: Random): String = {
    val keys = Seq("id", "v", "tags", "o", "nothing") ++
      (if (r.nextInt(8) == 0) Seq("ID") else Nil)
    val text = r.nextInt(10) match {
      case 0 => "[]"
      case 1 => mapper.writeValueAsString(node(jsonObject(r, keys)))
      case 2 => pick(r, Seq("5", "\"s\"", "null", "[1, 2]"))
      case _ => mapper.writeValueAsString(node(
        Seq.fill(1 + r.nextInt(12))(jsonObject(r, keys))))
    }
    if (r.nextInt(10) == 0) text.take(text.length / 2) + "}{" // malformed
    else text
  }

  // --- the two inferences --------------------------------------------

  private def write(text: String): Path = {
    val p = Files.createTempFile(dir, "blob", "")
    Files.write(p, text.getBytes("UTF-8"))
  }

  private var onDriver = 0
  private var total = 0

  /** The driver's inference equals `spark.read`'s, or throws; the
    * upload's `/schema` document is `spark.read`'s. */
  private def agree(text: String, mime: String,
      options: Map[String, String]): Boolean = {
    val path = write(text)
    val isCsv = mime == "text/csv"
    val want = Try(spark.read.options(options)
      .format(if (isCsv) "csv" else "json").load(path.toString).schema)
    val got = Try(
      if (Files.size(path) == 0) sys.error("an empty file is Spark's")
      else if (isCsv) GraftFileScan.inferCsv(spark, lines, path, options)
      else GraftFileScan.inferJson(spark, path, options))
    total += 1
    if (got.isSuccess) onDriver += 1
    val cid = lake.addFile(text.getBytes("UTF-8"), mime)
    val served = Try(lake.schema(cid))
    val same = (got, want) match {
      case (Success(g), Success(w)) => g == w &&
        JsonSchema.forRows(cid, g) == JsonSchema.forRows(cid, w)
      case (Failure(_), _) => true // the fallback: checked below
      case _ => false
    }
    val sameServed = (served, want) match {
      case (Success(Right(doc)), Success(w)) =>
        doc == JsonSchema.forRows(cid, w)
      case (Failure(_), Failure(_)) => true
      case _ => false
    }
    if (!same || !sameServed) info(s"diverged on ${mapper.writeValueAsString(
      text)}:\n  spark=$want\n  driver=$got\n  served=$served")
    same && sameServed
  }

  private def check(blob: Random => String, mime: String,
      options: Map[String, String]): Unit = {
    val prop = Prop.forAllNoShrink(Gen.long) { seed =>
      agree(blob(new Random(seed)), mime, options)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  private val csvTyped = Map("header" -> "true", "inferSchema" -> "true")

  test("property: CSV inference on the driver equals spark.read's") {
    check(csvBlob, "text/csv", csvTyped)
  }

  test("property: the CSV reader schema (header only) equals spark.read's") {
    val prop = Prop.forAllNoShrink(Gen.long) { seed =>
      val path = write(csvBlob(new Random(seed)))
      val want = spark.read.option("header", "true").csv(path.toString).schema
      GraftFileScan.inferCsv(spark, lines, path,
        Map("header" -> "true")) == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: JSON inference on the driver equals spark.read's") {
    check(jsonBlob, "application/json", Map("multiLine" -> "true"))
  }

  test("fixed cases: header-only CSV, [], a single object, malformed " +
      "JSON and keys that collide in case") {
    val json = Map("multiLine" -> "true")
    Seq("a,A,,a\n" -> csvTyped, "id,Id\r\n" -> csvTyped,
      "\uFEFFn,t\r1,2024-01-02 03:04:05\r\n2,\n" -> csvTyped,
      "[]" -> json, """{"a": {"b": [1, 2.5]}, "c": null}""" -> json,
      """[{"a": 1}, {"a": "x"}""" -> json,
      """[{"a": 1, "A": 2}]""" -> json
    ).foreach { case (text, options) =>
      val mime = if (options.contains("header")) "text/csv"
        else "application/json"
      assert(agree(text, mime, options), text)
    }
    assert(Try(GraftFileScan.inferJson(spark,
      write("""[{"a": 1}, {"a": "x"}"""), json)).isFailure)
  }

  test("the driver answers most generated blobs") {
    // the properties above ran: they compared the driver's answers,
    // not only the fallback
    assert(total > 0 && onDriver * 2 > total,
      s"$onDriver of $total inferred on the driver")
  }

  test("a BOM, CRLF and a bare CR: the driver reads, infers and " +
      "extracts what the Spark path does") {
    val text = "\uFEFFid,name\r\n1,a\r2,b\n3,c\r\n"
    val path = write(text)
    assert(GraftFileScan.inferCsv(spark, lines, path, csvTyped) ==
      spark.read.options(csvTyped).csv(path.toString).schema)
    val cid = lake.addFile(text.getBytes("UTF-8"), "text/csv")
    assert(lake.schema(cid).isRight)
    Seq("true", """["==", [".", ["$"], "name"], "b"]""").foreach { q =>
      val want = lake.extract(cid, q).toOption.get.toJSON.collect()
        .mkString("[", ",", "]")
      lake.serveExtract(cid, q) match {
        case Right(Left(body)) => assert(new String(body, "UTF-8") == want, q)
        case other => fail(s"not answered on the driver: $other")
      }
    }
    assert(lake.extract(cid, "true").toOption.get.count() == 3)
  }
}
