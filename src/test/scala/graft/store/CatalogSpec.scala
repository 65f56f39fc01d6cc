package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardOpenOption}

import org.apache.spark.sql.functions.max

import graft.SparkSpec

/** The catalog's append logs on disk: the WAL line format, recovery of a
  * torn tail, and the `seq` counter recovered from the logs alone.
  */
class CatalogSpec extends SparkSpec {

  // WAL lines in the established format: field order, `null` for a null
  // type and an empty parent, extra as an object, topics as an array
  private val contentLines = Seq(
    """{"cid":"sha256-a","type":"text/csv","extra":{},"seq":1}""",
    """{"cid":"sha256-z","type":null,"extra":{"schema":"{\"type\":\"array\"}"},"seq":2}""")
  private val datasetLines = Seq(
    """{"id":3,"file":"sha256-a","description":"d","source":"s","topics":["x","y"],"extra":{"k":"v"},"parent":null,"seq":3}""",
    """{"id":4,"file":"sha256-a","description":"d2","source":"s","topics":["x","y"],"extra":{"k":"v"},"parent":3,"seq":4}""")

  private def lines(p: Path): Seq[String] =
    new String(Files.readAllBytes(p), UTF_8).split('\n').toSeq

  private def appendBytes(p: Path, b: Array[Byte]): Unit =
    Files.write(p, b, StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  private def maxSeq(c: Catalog): Long =
    Seq(c.content, c.dataset).map(_.agg(max("seq")).head().getLong(0)).max

  test("writes WAL lines in the established format") {
    val root = Files.createTempDirectory("catalog-fmt-w")
    val c = new Catalog(spark, root)
    c.insertFile("sha256-a", "text/csv")
    c.setSchema("sha256-z", """{"type":"array"}""")
    val id = c.insertDataset(DatasetMeta("sha256-a", "d", "s", Seq("x", "y"),
      Map("k" -> "v")))
    c.updateDataset(id, DatasetMeta.Partial(description = Some("d2")))
    assert(lines(root.resolve("content.wal")) == contentLines)
    assert(lines(root.resolve("dataset.wal")) == datasetLines)
  }

  test("recovers WAL lines written in the established format") {
    val root = Files.createTempDirectory("catalog-fmt-r")
    Files.write(root.resolve("content.wal"),
      contentLines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(root.resolve("dataset.wal"),
      datasetLines.mkString("", "\n", "\n").getBytes(UTF_8))
    val c = new Catalog(spark, root)
    assert(c.getType("sha256-a").contains("text/csv"))
    assert(c.getType("sha256-z").isEmpty) // "type":null
    assert(c.getSchema("sha256-z").contains("""{"type":"array"}"""))
    // a parent read back from JSON unboxes as a Long in the walk
    assert(c.lineage(4).map(_.id) == Seq(4L, 3L))
    assert(c.lineage(4).map(_.parent) == Seq(Some(3L), None))
    assert(c.lineage(3).head.topics == Seq("x", "y"))
    assert(c.lineage(3).head.extra == Map("k" -> "v"))
    // update-as-version on a recovered parent
    val child = c.updateDataset(4, DatasetMeta.Partial(source = Some("s2"))).get
    assert(child > 4)
    assert(c.lineage(child).map(_.id) == Seq(child, 4L, 3L))
    assert(c.lineage(child).head.description == "d2")
  }

  test("torn WAL tail: the unfinished append is dropped, later ones recover") {
    val root = Files.createTempDirectory("catalog-torn")
    val wal = root.resolve("content.wal")
    val c1 = new Catalog(spark, root)
    c1.insertFile("sha256-a", "text/csv")
    c1.insertFile("sha256-b", "application/json")
    // the first 8 KiB write of a row whose schema is larger than that
    val schema = "{\\\"description\\\":\\\"" + "x" * 9000 + "\\\"}"
    val row = s"""{"cid":"sha256-c","type":null,"extra":{"schema":"$schema"},"seq":3}\n"""
    val good = Files.size(wal)
    appendBytes(wal, row.getBytes(UTF_8).take(8192))

    val c2 = new Catalog(spark, root)
    assert(Files.size(wal) == good)
    assert(c2.content.count() == 2)
    assert(c2.getSchema("sha256-c").isEmpty)
    c2.insertFile("sha256-c", "text/plain")

    val c3 = new Catalog(spark, root)
    assert(c3.content.count() == 3)
    assert(c3.getType("sha256-a").contains("text/csv"))
    assert(c3.getType("sha256-c").contains("text/plain"))
  }

  test("an unparseable complete WAL line fails the open") {
    val root = Files.createTempDirectory("catalog-bad-line")
    Files.write(root.resolve("dataset.wal"), "not json\n".getBytes(UTF_8))
    intercept[Exception](new Catalog(spark, root))
  }

  test("seq is recovered from both logs, with no counter file, " +
      "flushed or not") {
    for (flushed <- Seq(false, true)) {
      val root = Files.createTempDirectory("catalog-seq")
      val c1 = new Catalog(spark, root)
      val id = c1.insertDataset(DatasetMeta("sha256-a", "d", "s", Nil))
      // the highest seq is a content row, not the last dataset id
      c1.insertFile("sha256-a", "text/csv")
      c1.setSchema("sha256-a", "{}")
      if (flushed) {
        c1.flush()
        assert(!Files.exists(root.resolve("content.wal")))
        assert(!Files.exists(root.resolve("dataset.wal")))
      }
      assert(Files.list(root).toArray.map(_.toString).sorted.toSeq ==
        (Seq("content", "dataset") ++
          (if (flushed) Nil else Seq("content.wal", "dataset.wal")))
          .map(n => root.resolve(n).toString).sorted)

      val c2 = new Catalog(spark, root)
      val recovered = maxSeq(c2)
      assert(recovered == id + 2, s"flushed=$flushed")
      val next = c2.insertDataset(DatasetMeta("sha256-a", "d2", "s", Nil,
        parent = Some(id)))
      assert(next > recovered, s"flushed=$flushed")
      assert(c2.lineage(next).map(_.id) == Seq(next, id))
    }
  }
}
