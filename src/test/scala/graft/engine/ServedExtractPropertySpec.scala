package graft.engine

import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSpec

/** The served `/extract` (`Lake.serveExtract`) against `Lake.extract`,
  * the Spark path, over generated CSV and JSON blobs and generated
  * queries: every served body equals `toJSON` of the Spark path byte
  * for byte (rows that tie on every `top` key may come in any order,
  * and a tie at the k-th row may keep any of them), a query the
  * analyzer rejects is the same error on both, and a query that fails
  * at run time fails on both.
  *
  * The blobs carry the edge cases of both readers: quoted commas and
  * newlines, empty fields, short and long rows, CRLF line endings and
  * blank lines, duplicate, empty and case-variant header names (CSV);
  * nested objects, arrays holding nulls, nulls and missing keys, mixed
  * int/double values (JSON).
  */
class ServedExtractPropertySpec extends SparkSpec {

  private lazy val lake =
    new Lake(spark, Files.createTempDirectory("served-extract"))
  private val mapper = new ObjectMapper()

  private def pick[A](r: Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def quote(s: String): String =
    mapper.writeValueAsString(JsonNodeFactory.instance.textNode(s))

  // --- blobs ---------------------------------------------------------

  private val words = Seq("abc", "x", "Vietnam", "Chad", "true", "no",
    "￿", "😀", "a b", "NaN")

  /** A CSV field of a column kind: 0 integral text, 1 numeric text
    * (signed, padded, fractional), 2 free text. */
  private def csvField(r: Random, kind: Int): String = r.nextInt(12) match {
    case 0 => "" // an empty field reads as null
    case 1 if kind == 2 => "\"a,b\""
    case 2 if kind == 2 => "\"two\nlines\""
    case 3 if kind == 2 => "\"say \"\"hi\"\"\""
    case _ => kind match {
      case 0 => (r.nextInt(40) - 10).toString
      case 1 => pick(r, Seq(s" ${r.nextInt(50)} ", s"+${r.nextInt(50)}",
        f"${r.nextDouble() * 20 - 5}%.2f", s"-${r.nextInt(9)}",
        r.nextInt(30).toString))
      case _ => pick(r, words)
    }
  }

  private def csvBlob(r: Random): String = {
    val kinds = Seq.fill(2 + r.nextInt(4))(r.nextInt(3))
    val names = kinds.indices.map(i => r.nextInt(8) match {
      case 0 => ""
      case 1 => "dup"
      case 2 => "Cat"
      case _ => Seq("id", "cat", "val", "name", "score", "num")(i)
    })
    val eol = if (r.nextBoolean()) "\r\n" else "\n"
    val rows = Seq.fill(1 + r.nextInt(30)) {
      r.nextInt(12) match {
        case 0 => "" // a blank line
        case 1 => kinds.init.map(csvField(r, _)).mkString(",") // short
        case 2 => (kinds :+ 2).map(csvField(r, _)).mkString(",") // long
        case _ => kinds.map(csvField(r, _)).mkString(",")
      }
    }
    (names.mkString(",") +: rows).mkString(eol) + eol
  }

  private def jsonBlob(r: Random): String = {
    val f = JsonNodeFactory.instance
    val arr = f.arrayNode()
    (0 until 1 + r.nextInt(25)).foreach { i =>
      val o = arr.addObject()
      o.put("id", i.toLong)
      r.nextInt(5) match { // mixed int/double
        case 0 => o.put("v", r.nextInt(20) - 5)
        case 1 => o.put("v", (r.nextInt(40) - 10) / 4.0)
        case 2 => o.put("v", -0.0)
        case 3 => o.putNull("v")
        case _ =>
      }
      if (r.nextInt(6) > 0) o.put("s", r.nextInt(3) match {
        case 0 => r.nextInt(30).toString
        case 1 => s" ${r.nextInt(9)}"
        case _ => pick(r, words)
      })
      r.nextInt(5) match {
        case 0 => o.putNull("tags")
        case 1 => o.putArray("tags")
        case _ =>
          val t = o.putArray("tags")
          (0 to r.nextInt(3)).foreach { _ =>
            if (r.nextInt(6) == 0) t.addNull() else t.add(pick(r, Seq("a", "b", "c")))
          }
      }
      r.nextInt(4) match {
        case 0 => o.putNull("o")
        case 1 =>
        case _ =>
          val n = o.putObject("o")
          n.put("k", r.nextInt(6))
          if (r.nextBoolean()) n.put("w", pick(r, words))
      }
      if (r.nextBoolean()) o.put("f", r.nextBoolean())
    }
    mapper.writeValueAsString(arr)
  }

  // --- queries -------------------------------------------------------

  /** A query and, for a root `top`, the output names of its sort keys. */
  private final case class Query(json: String, topKeys: Seq[String] = Nil)

  private def path(segs: Any*): String =
    segs.map {
      case s: String => quote(s)
      case i: Int => i.toString
    }.mkString("""[".", ["$"], """, ", ", "]")

  private def queryOf(r: Random, cols: Seq[String], isJson: Boolean): Query = {
    def col() = if (r.nextInt(25) == 0) "no_such_col" else pick(r, cols)
    def field(): String =
      if (isJson && r.nextInt(4) == 0)
        pick(r, Seq(path("o", "k"), path("o", "w"), path("tags", 0)))
      else path(col())
    def literal(): String = r.nextInt(7) match {
      case 0 => (r.nextInt(30) - 5).toString
      case 1 => pick(r, Seq("2.5", "-0.5", "7.0"))
      case 2 => quote(pick(r, words ++ Seq("12", " 3", "a,b")))
      case 3 => "true"
      case 4 => "null"
      case _ => r.nextInt(12).toString
    }
    def value(depth: Int): String = r.nextInt(if (depth > 0) 8 else 5) match {
      case 0 | 1 | 2 => field()
      case 3 | 4 => literal()
      case 5 => s"""["${pick(r, Seq("+", "-", "*"))}", ${value(depth - 1)}, ${value(depth - 1)}]"""
      case 6 => s"""["-", ${value(depth - 1)}]"""
      case _ => s"""["${pick(r, Seq("/", "%"))}", ${value(depth - 1)}, ${pick(r, Seq("2", "3", "0.5"))}]"""
    }
    def pred(depth: Int): String = r.nextInt(if (depth > 0) 9 else 6) match {
      case 0 | 1 | 2 =>
        s"""["${pick(r, Seq("==", "!=", "<", "<=", ">", ">="))}", ${value(1)}, ${value(0)}]"""
      case 3 => s"""["~", ${field()}, ${quote(pick(r, Seq("a.*", ".*1.*", "[0-9]+", "V.*", ".+", "(")))}]"""
      case 4 if isJson => s"""["&&", ${path("tags")}, ["a", "x"]]"""
      case 4 | 5 => pick(r, Seq("true", "false", s"""["<", ${field()}, ${field()}, ${literal()}]"""))
      case 6 => s"""["&", ${pred(depth - 1)}, ${pred(depth - 1)}]"""
      case 7 => s"""["|", ${pred(depth - 1)}, ${pred(depth - 1)}]"""
      case _ => s"""["!", ${pred(depth - 1)}]"""
    }
    def group(): (String, Seq[String]) = {
      val key = col()
      val aggs = Seq.fill(1 + r.nextInt(3))(r.nextInt(6) match {
        case 0 => """["count"]"""
        case i =>
          s"""["${Seq("count_distinct", "sum", "min", "max", "avg")(i - 1)}", ${path(col())}]"""
      })
      (s"""["group", ${pred(1)}, [${path(key)}], ${aggs.mkString(", ")}]""",
        Seq(key) ++ (if (aggs.contains("""["count"]""")) Seq("n") else Nil))
    }
    r.nextInt(12) match {
      case 0 | 1 | 2 | 3 => Query(pred(2))
      case 4 | 5 => Query(group()._1)
      case 6 =>
        val (g, names) = group()
        Query(s"""["having", $g, [">", ${path(pick(r, names))}, ${r.nextInt(3)}]]""")
      case 7 | 8 =>
        val (inner, names) =
          if (r.nextBoolean()) (pred(1), Seq(col(), col()).distinct)
          else group()
        val keys = names.take(1 + r.nextInt(2))
        val specs = keys.map(k =>
          if (r.nextBoolean()) s"""["desc", ${path(k)}]""" else path(k))
        Query(s"""["top", ${1 + r.nextInt(6)}, [${specs.mkString(", ")}], $inner]""",
          keys)
      case 9 | 10 =>
        val specs = Seq.tabulate(1 + r.nextInt(3))(i =>
          s"""["c$i", ${if (i == 0) field() else value(1)}]""")
        val inner = r.nextInt(3) match {
          case 0 => ""
          case 1 => ", " + pred(1)
          case _ => ", " + group()._1
        }
        Query(s"""["project", [${specs.mkString(", ")}]$inner]""")
      case _ => Query(pick(r, Seq("[", """["group", true, [], ["count"]]""",
        s"""["~", ${path(pick(r, cols))}, 5, 6]""",
        s"""["group", true, [${path(pick(r, cols))}], ["sum", ${path("tags")}]]""",
        s"""["top", 0, [${path(pick(r, cols))}], true]""")))
    }
  }

  // --- the two paths -------------------------------------------------

  /** Error message, or the body; a run-time failure is a Failure. */
  private def spark(cid: String, q: String): Try[Either[String, String]] =
    Try(lake.extract(cid, q) match {
      case Left(e) => Left(e.message)
      case Right(df) => Right(df.toJSON.collect().mkString("[", ",", "]"))
    })

  /** The same for the served entry, and whether the driver answered. */
  private def served(cid: String, q: String)
      : (Try[Either[String, String]], Boolean) =
    lake.serveExtract(cid, q) match {
      case Left(e) => (Success(Left(e.message)), false)
      case Right(Left(body)) => (Success(Right(new String(body, "UTF-8"))), true)
      case Right(Right(df)) =>
        (Try(Right(df.toJSON.toLocalIterator().asScala.mkString("[", ",", "]"))),
          false)
    }

  private def rows(body: String): Seq[JsonNode] =
    mapper.readTree(body).elements.asScala.toSeq

  /** Equal up to the order of rows that tie on every sort key, and up
    * to which tied rows the last run keeps at the k-th row. */
  private def sameTop(a: String, b: String, keys: Seq[String]): Boolean = {
    def key(n: JsonNode) = keys.map(k => String.valueOf(n.get(k)))
    def runs(rs: Seq[JsonNode]) = rs.foldLeft(List.empty[List[JsonNode]]) {
      case (cur :: done, n) if key(cur.head) == key(n) => (n :: cur) :: done
      case (acc, n) => List(n) :: acc
    }.reverse
    val (ra, rb) = (rows(a), rows(b))
    ra.map(key) == rb.map(key) && runs(ra).zip(runs(rb)).init.forall {
      case (x, y) => x.map(_.toString).sorted == y.map(_.toString).sorted
    }
  }

  private var driverAnswers = 0
  private var answered = 0

  private def agree(cid: String, q: Query): Boolean = {
    val want = spark(cid, q.json)
    val (got, onDriver) = served(cid, q.json)
    if (want.toOption.exists(_.isRight)) {
      answered += 1
      if (onDriver) driverAnswers += 1
    }
    val same = (want, got) match {
      case (Success(Right(w)), Success(Right(g))) =>
        w == g || (q.topKeys.nonEmpty && sameTop(w, g, q.topKeys))
      case (Success(Left(w)), Success(Left(g))) => w == g
      case (Failure(_), Failure(_)) => true
      case _ => false
    }
    if (!same) info(s"diverged on ${q.json}:\n  spark=$want\n  served=$got")
    same
  }

  private def check(blob: Random => String, mime: String,
      isJson: Boolean): Unit = {
    val prop = Prop.forAllNoShrink(Gen.long) { seed =>
      val r = new Random(seed)
      val cid = lake.addFile(blob(r).getBytes("UTF-8"), mime)
      assert(lake.schema(cid).isRight) // fills the reader-schema memo
      val cols = lake.extract(cid, "true").toOption.get.columns.toSeq
      Seq.fill(8)(queryOf(r, cols, isJson)).forall(agree(cid, _))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: served CSV extraction equals the Spark path") {
    check(csvBlob, "text/csv", isJson = false)
  }

  test("property: served JSON extraction equals the Spark path") {
    check(jsonBlob, "application/json", isJson = true)
  }

  test("cases where Catalyst evaluates more than the query's rows ask " +
      "for: both paths fail alike") {
    val csvCid = lake.addFile(
      "id,cat\n1,1\n-1.43,x\n".getBytes("UTF-8"), "text/csv")
    val jsonCid = lake.addFile(
      """[{"id":1,"s":"a"},{"id":2,"s":"b"}]""".getBytes("UTF-8"),
      "application/json")
    Seq(csvCid, jsonCid).foreach(c => assert(lake.schema(c).isRight))
    Seq(
      // constraint propagation infers cast(cat as bigint) > 1 from the
      // equality of two columns
      csvCid -> """["having", ["group", ["==", [".", ["$"], "id"],
          [".", ["$"], "cat"]], [[".", ["$"], "id"]],
          ["sum", [".", ["$"], "id"]]], [">", [".", ["$"], "id"], 1]]""",
      // constant folding fails whatever the rows
      csvCid -> """["project", [["c", ["%", "Chad", 0.5]]],
          ["==", [".", ["$"], "cat"], "none"]]""",
      // constant propagation makes 99 % 0 of id % 0 under id == 99
      jsonCid -> """["&", ["==", [".", ["$"], "id"], 99],
          ["==", ["%", [".", ["$"], "id"], 0], 1]]"""
    ).foreach { case (cid, q) =>
      assert(spark(cid, q).isFailure && agree(cid, Query(q)), q)
    }
  }

  test("a column named in another case than its header: the driver " +
      "answers the Spark path's body") {
    val cid = lake.addFile("id,Cat\n1,a\n2,b\n3,a\n".getBytes("UTF-8"),
      "text/csv")
    assert(lake.schema(cid).isRight)
    val cat = """[".", ["$"], "cat"]"""
    Seq(s"""["==", $cat, "a"]""" ->
        """[{"id":"1","Cat":"a"},{"id":"3","Cat":"a"}]""",
      s"""["group", true, [$cat], ["count"]]""" ->
        """[{"cat":"a","n":2},{"cat":"b","n":1}]""").foreach {
      case (q, want) =>
        assert(spark(cid, q) == Success(Right(want)), q)
        assert(served(cid, q) == ((Success(Right(want)), true)), q)
    }
  }

  test("the driver path answers most generated queries") {
    // both properties above ran: the comparison exercised the driver
    // path, not only the fallback
    assert(answered > 0 && driverAnswers * 2 > answered,
      s"$driverAnswers of $answered answered on the driver")
  }
}
