package graft.store

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** How a maintenance write to an on-disk index artifact becomes
  * visible. The content store never needs this (its content is
  * immutable and addressed by CID); the index artifacts built over it
  * are mutable: the IVF-PQ layout ([[graft.operators.Layout]]), the
  * BM25 index ([[graft.operators.Retrieval]]), z-bucket layouts with
  * their `.blooms` sidecar, and the streamed IVM/SCD2 views. An
  * artifact is a tree at `path` plus sibling sidecars named
  * `path<suffix>` (`.lexicon`, `.stats`, `.blooms`, `.tombstones`, …).
  * Every non-idempotent write to one goes through [[update]], in four
  * steps:
  *
  *   1. '''Stage.''' The verb writes everything it changes into one
  *      sibling directory, `path.stage`, under the live entries' own
  *      names ([[Stage]]), and lists its publish steps. A manifest of
  *      those steps is written last, by an atomic rename to
  *      `path.stage/_COMMITTED`: the commit marker.
  *   2. '''Publish.''' Renames move each staged entry into place: a
  *      `replace` deletes the live copy of a sidecar, tree or bucket
  *      and renames the staged one over it; a `merge` moves each staged
  *      data file into the same relative directory of the live entry,
  *      under its staged name (postings into their partition
  *      directories, tombstone files into `.tombstones`); a `drop`
  *      deletes a live entry. A step whose staged source is gone is
  *      done, so every step is idempotent. Then the write's batch, if
  *      it has one, is marked in the ledger (`path.applied/<tick>` or
  *      `path.ingested/<batch>`, one empty file per id) and the stage
  *      is deleted.
  *   3. '''Recover on read.''' Every reader and writer of the artifact
  *      calls [[recover]] first: a committed stage is published to the
  *      end, an uncommitted one is thrown away. A reader leaves a stage
  *      alone while a write to it is in flight in this JVM.
  *   4. '''Tombstones.''' A delete appends ids through
  *      [[Stage.tombstone]]; every probe drops them with [[live]], the
  *      one anti-join.
  *
  * The invariant, at every crash point: a reader sees the artifact as
  * it was before the write or as it is after it, never a mix and never
  * a missing entry.
  *   - Before the marker, the live entries are untouched and the stage
  *     is thrown away by the next reader or writer.
  *   - After the marker, every step still to do has its source in the
  *     stage (a `replace` whose live copy is already deleted still has
  *     its staged copy; a `merge` has moved only some of its files), so
  *     the next reader or writer finishes the publish before it reads.
  *   - After the publish, only the stage is left; recovery deletes it.
  *
  * A batch's ledger mark is published by the same stage as its
  * changes. So a replayed batch either finds its mark (once the
  * recovery has run) and is skipped, or finds the artifact untouched
  * and applies once: no crash point double-applies a batch.
  *
  * Maintenance is single-writer per artifact, as every layout verb
  * has assumed; two writes to one path in this JVM fail loudly. Readers
  * that scan while a publish replaces their files may fail; they never
  * read a staged file.
  */
object Artifact {

  /** The ledger of applied ticks ([[graft.streaming.IvmStream]],
    * [[graft.streaming.Scd2Stream]]).
    */
  val Applied = ".applied"

  /** The ledger of ingested micro-batches
    * ([[graft.streaming.IndexStream]], [[graft.streaming.ZorderStream]]).
    */
  val Ingested = ".ingested"

  /** The sidecar of deleted ids. */
  val Tombstones = ".tombstones"

  private val Committed = "_COMMITTED"

  /** Test seam: called with each protocol step's name just before the
    * step runs. A hook that throws leaves the filesystem as a crash at
    * that point would.
    */
  @volatile private[graft] var onStep: String => Unit = _ => ()

  /** Paths with a write in flight in this JVM, guarded by `this`. */
  private val writing = mutable.Set[String]()

  /** One write's staging area for the artifact at `path`. Each method
    * returns the staged location of the live entry `path + suffix`
    * (`""` is the tree itself, `"/zbucket=3"` one of its buckets) and
    * records what the publish does with it.
    */
  final class Stage private[Artifact] (val spark: SparkSession,
      val path: String) {
    private[Artifact] val steps = mutable.ArrayBuffer[String]()

    /** Where the staged copy of `path + suffix` is written. */
    def at(suffix: String): String =
      new Path(stageOf(new Path(path)), new Path(path).getName + suffix)
        .toString

    /** The staged entry replaces the live one. */
    def replace(suffix: String): String = record("replace", suffix)

    /** The staged entry's data files move into the live entry. */
    def merge(suffix: String): String = record("merge", suffix)

    /** The live entry is deleted. */
    def drop(suffix: String): Unit = record("drop", suffix)

    private def record(verb: String, suffix: String): String = {
      steps += s"$verb\t$suffix"
      at(suffix)
    }

    /** Append the distinct `key` values of `ids` to the tombstones.
      * Partitioned, not coalesced: a purge of millions of ids would
      * serialize through one task; compaction drops the small files.
      */
    def tombstone(ids: DataFrame, key: String): Unit =
      ids.select(col(key)).distinct().write.parquet(merge(Tombstones))
  }

  private def fsAt(s: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
  }

  private def stageOf(p: Path) = new Path(s"$p.stage")

  private def entry(p: Path, suffix: String) =
    new Path(p.getParent, p.getName + suffix)

  private def markOf(p: Path, ledger: String, id: Long) =
    new Path(entry(p, ledger), id.toString)

  private def markIn(fs: FileSystem, p: Path, ledger: String,
      id: Long): Unit = {
    fs.mkdirs(entry(p, ledger))
    fs.create(markOf(p, ledger, id), true).close()
  }

  def exists(s: SparkSession, path: String): Boolean = {
    val (fs, p) = fsAt(s, path)
    fs.exists(p)
  }

  /** Finish a committed stage of the artifact at `path`, or throw away
    * an uncommitted one that no write in this JVM is filling.
    */
  def recover(s: SparkSession, path: String): Unit = {
    val (fs, p) = fsAt(s, path)
    synchronized(settle(fs, p, !writing(fs.makeQualified(p).toString)))
  }

  private def settle(fs: FileSystem, p: Path, discard: Boolean): Unit = {
    val stage = stageOf(p)
    if (fs.exists(stage)) {
      if (fs.exists(new Path(stage, Committed))) publish(fs, p)
      else if (discard) fs.delete(stage, true)
    }
  }

  /** Run one maintenance write on the artifact at `path`: recover, then
    * stage with `write`, commit and publish. With a `batch` (a ledger
    * and an id) the write runs at most once per id: it returns None,
    * doing nothing, when the id is already marked, and otherwise marks
    * it in the same publish as the changes.
    */
  def update[A](s: SparkSession, path: String,
      batch: Option[(String, Long)] = None)(write: Stage => A): Option[A] = {
    val (fs, p) = fsAt(s, path)
    val k = fs.makeQualified(p).toString
    val fresh = synchronized {
      require(!writing(k), s"$path: another maintenance write is in flight")
      settle(fs, p, discard = true)
      val todo = !batch.exists { case (l, id) => fs.exists(markOf(p, l, id)) }
      if (todo) writing += k
      todo
    }
    if (!fresh) None
    else try {
      val st = new Stage(s, path)
      val out = write(st)
      batch.foreach { case (l, id) => st.steps += s"mark\t$l\t$id" }
      onStep("commit")
      val tmp = new Path(stageOf(p), "_manifest")
      val manifest = fs.create(tmp, true)
      try manifest.write(st.steps.map(_ + "\n").mkString.getBytes("UTF-8"))
      finally manifest.close()
      fs.rename(tmp, new Path(stageOf(p), Committed))
      synchronized(publish(fs, p))
      Some(out)
    } finally synchronized(writing -= k)
  }

  private def publish(fs: FileSystem, p: Path): Unit = {
    val stage = stageOf(p)
    val in = fs.open(new Path(stage, Committed))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().toList finally in.close()
    lines.foreach { line =>
      onStep(line)
      line.split("\t", -1) match {
        case Array("replace", sfx) =>
          val staged = new Path(stage, p.getName + sfx)
          if (fs.exists(staged)) {
            fs.delete(entry(p, sfx), true)
            onStep(s"$line deleted")
            fs.rename(staged, entry(p, sfx))
          }
        case Array("merge", sfx) =>
          val staged = new Path(stage, p.getName + sfx)
          dataFiles(fs, staged).zipWithIndex.foreach { case (rel, i) =>
            if (i == 1) onStep(s"$line moved")
            val dest = new Path(entry(p, sfx), rel)
            fs.mkdirs(dest.getParent)
            fs.rename(new Path(staged, rel), dest)
          }
        case Array("drop", sfx) => fs.delete(entry(p, sfx), true)
        case Array("mark", ledger, id) => markIn(fs, p, ledger, id.toLong)
      }
    }
    onStep("clean")
    fs.delete(stage, true)
  }

  /** The data files under `path` (none when it is absent), relative to
    * it; hidden and `_`-prefixed files such as `_SUCCESS` are skipped.
    */
  def files(s: SparkSession, path: String): Seq[String] = {
    val (fs, p) = fsAt(s, path)
    dataFiles(fs, p)
  }

  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory) dataFiles(fs, st.getPath).map(r => s"$name/$r")
      else if (name.startsWith("_") || name.startsWith(".")) Nil
      else Seq(name)
    }

  /** `rows` without the tombstoned `key` values of the artifact at
    * `path`. Unhinted: the tombstone set starts tiny (AQE broadcasts
    * it) but grows until a compaction drops it, so a forced broadcast
    * could run out of memory.
    */
  def live(s: SparkSession, path: String, rows: DataFrame,
      key: String): DataFrame =
    if (exists(s, path + Tombstones))
      rows.join(s.read.parquet(path + Tombstones).select(col(key))
        .distinct(), Seq(key), "left_anti")
    else rows

  /** The ids marked in `path`'s `ledger`, ascending. */
  def marks(s: SparkSession, path: String, ledger: String): Seq[Long] = {
    val (fs, p) = fsAt(s, path + ledger)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath.getName.toLong).toSeq.sorted
  }

  /** The highest id marked in `path`'s `ledger`; -1 when none. */
  def lastMark(s: SparkSession, path: String, ledger: String): Long =
    marks(s, path, ledger).lastOption.getOrElse(-1L)

  /** Mark `id` in `path`'s `ledger` on its own, for a writer whose
    * changes are idempotent and need no stage (the IVM/SCD2 tick
    * snapshots).
    */
  def mark(s: SparkSession, path: String, ledger: String, id: Long): Unit = {
    val (fs, p) = fsAt(s, path)
    markIn(fs, p, ledger, id)
  }

  /** Run `body` unless `id` is marked in `path`'s `ledger`, then mark
    * it: the gate for a batch whose writes are each idempotent
    * ([[graft.streaming.ZorderStream]]), where a crash before the mark
    * only costs the replay its work.
    */
  def once(s: SparkSession, path: String, ledger: String, id: Long)(
      body: => Unit): Unit =
    if (!exists(s, s"$path$ledger/$id")) {
      body
      mark(s, path, ledger, id)
    }

  /** Retention for tick snapshots `path/cur/tick=<t>` gated by the
    * `.applied` ledger: delete those of all but the newest `keep`
    * marked ticks. Unmarked ticks are left for their replay to
    * overwrite; the marks stay as the ledger.
    */
  def vacuum(s: SparkSession, path: String, keep: Int): Unit = {
    require(keep >= 1, "the replay frontier must be retained")
    val (fs, _) = fsAt(s, path)
    marks(s, path, Applied).dropRight(keep)
      .foreach(t => fs.delete(new Path(s"$path/cur/tick=$t"), true))
  }
}
