package graft.store

import java.io.{InputStream, FileNotFoundException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Content-addressed store (CAS) — the engine's analog of the reference's
  * `FileSystem` interface over IPFS
  * (`/root/reference/src/comlake/core/fs/FileSystem.java:25-46`,
  * `fs/InterPlanetaryFileSystem.java:47-121`).
  *
  * Content is immutable bytes addressed by CID — a REAL IPFS CIDv0
  * (dag-pb/UnixFS merkle root, `Cid.scala`), so re-adding identical
  * bytes dedups to the same address (the passive dedup the reference
  * gets from IPFS) AND the addresses themselves equal what the
  * reference's daemon would issue: the golden CIDs from its
  * `api_test.clj:36-44` reproduce here (CidSpec). Directories are
  * content too: a directory CID addresses a manifest mapping name →
  * child CID, mirroring IPFS `inode/directory` semantics
  * (`db/PostgreSQL.java:97-99`); the dir CID is the UnixFS directory
  * node's, with PBLink tsizes composed from the children.
  *
  * Layout under `root`:
  *   blobs/<cid>           — raw bytes (write-once)
  *   dirs/<cid>            — directory manifest, one "name\tcid" per line
  *
  * All operations are idempotent writes or pure reads, so many Spark
  * executors can ingest into the same store concurrently without
  * coordination: the temp-file + atomic-move protocol makes duplicate
  * adds race-free (last mover wins with identical bytes). At 100 TB the
  * `root` would be an object-store prefix; Spark only ever sees paths
  * returned by `pathOf`, so scans stay ordinary distributed file reads.
  */
final class ContentStore(val root: Path) extends FileStore {
  private val blobs = root.resolve("blobs")
  private val dirs = root.resolve("dirs")
  private val ingests = root.resolve("ingests")
  Files.createDirectories(blobs)
  Files.createDirectories(dirs)
  Files.createDirectories(ingests)

  /** Dag sizes already computed by this instance (PBLink.Tsize inputs
    * for directory nodes). A miss recomputes from the stored bytes, so
    * this is purely a fast path — safe across restarts and writers.
    */
  private val dagSizes =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Ingest a byte stream, return its CID (reference `FileSystem.add`).
    * Spooled to a temp file first: the CID is the UnixFS merkle root,
    * which needs one full pass before the blob's final address exists.
    */
  def add(in: InputStream): String = {
    val tmp = Files.createTempFile(root, "ingest", ".tmp")
    try {
      Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
      val node = {
        val s = Files.newInputStream(tmp)
        try Cid.ofStream(s) finally s.close()
      }
      dagSizes.put(node.cid, node.tsize)
      val dest = blobs.resolve(node.cid)
      if (!Files.exists(dest)) // content-addressed => same bytes, any writer
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      node.cid
    } finally Files.deleteIfExists(tmp)
  }

  /** In-memory ingest fast path: hash first, touch the filesystem
    * only when the content is new. Re-adding existing bytes (IPFS-style
    * passive dedup — the common case in re-ingest workloads) costs one
    * merkle pass + one existence probe, no temp file, no copy.
    */
  def add(bytes: Array[Byte]): String = {
    val node = Cid.ofBytes(bytes)
    dagSizes.put(node.cid, node.tsize)
    val dest = blobs.resolve(node.cid)
    if (!Files.exists(dest)) {
      val tmp = Files.createTempFile(root, "ingest", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp)
    }
    node.cid
  }

  /** Cumulative dag size of any stored cid (blob or directory) — the
    * PBLink.Tsize a parent directory must carry. Memoized; a cold
    * lookup recomputes from the stored content.
    */
  private def dagSize(cid: String): Long = {
    // NOT computeIfAbsent: directory sizing recurses into children and
    // ConcurrentHashMap forbids recursive updates inside the mapping fn
    val cached = dagSizes.get(cid)
    if (cached != null) cached.longValue
    else {
      val v: Long =
        if (isDir(cid))
          Cid.directory(ls(cid).map { case (n, child) =>
            n -> (child, dagSize(child)) }).tsize
        else {
          val s = Files.newInputStream(blobs.resolve(cid))
          try Cid.ofStream(s).tsize finally s.close()
        }
      dagSizes.put(cid, v)
      v
    }
  }

  /** Stream content by CID (reference `FileSystem.fetch`). */
  def fetch(cid: String): InputStream =
    stored(blobs, cid).map(Files.newInputStream(_))
      .getOrElse(throw new FileNotFoundException(cid))

  /** Filesystem path of a blob — what `spark.read` is pointed at. */
  def pathOf(cid: String): Path = blobs.resolve(cid)

  // --- ingest commit log ---------------------------------------------

  /** Record an ingest batch: one append-only manifest file (one cid
    * per line) under `ingests/`, named so lexicographic order is
    * arrival order. This is the store's commit log: the streaming side
    * of the cid connector tails it (offset = manifest count), so every
    * logged ingest — HTTP upload or distributed Spark write — becomes
    * a streamable event. Blobs are always written BEFORE their
    * manifest, so a reader at any offset only ever sees complete
    * content. Naming assumes one writer clock (same assumption Spark's
    * own file streaming source makes about file visibility).
    */
  def logIngest(cids: Seq[String]): Unit = if (cids.nonEmpty) {
    // millis + per-JVM seq give arrival order; the random suffix makes
    // names collision-free across concurrent writer JVMs (same-ms,
    // same-seq writers would otherwise REPLACE each other's manifest)
    val name = f"ingest-${System.currentTimeMillis()}%013d-" +
      f"${ContentStore.ingestSeq.incrementAndGet()}%09d-" +
      java.util.UUID.randomUUID().toString.take(8)
    val tmp = Files.createTempFile(root, "manifest", ".tmp")
    Files.write(tmp, cids.sorted.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, ingests.resolve(name),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Ingest manifests in commit order. */
  def ingestLog: Seq[Path] = {
    if (!Files.isDirectory(ingests)) return Seq.empty
    val s = Files.list(ingests)
    try s.iterator().asScala.toVector.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def exists(cid: String): Boolean =
    stored(blobs, cid).isDefined || isDir(cid)

  /** `cid`'s file under `base` if it is stored there. A string that is
    * not a CIDv0 ([[Cid.isV0]], the only form this store issues) reads
    * as absent, so `.`, `..` or a path never resolves to a store
    * directory itself.
    */
  private def stored(base: Path, cid: String): Option[Path] =
    Some(cid).filter(Cid.isV0).map(base.resolve(_: String))
      .filter(Files.exists(_))

  // --- directory ops (reference `mkdir`/`cp`/`ls`,
  //     fs/InterPlanetaryFileSystem.java:42-44,81-110) -----------------

  /** Create an empty directory, return its CID. */
  def mkdir(): String = writeManifest(Map.empty)

  /** Functional copy: new directory = `dir` with `name → src` added
    * (the reference re-pins and returns a fresh CID; ours is immutable
    * by construction).
    */
  def cp(src: String, dir: String, name: String): String = {
    require(exists(src), s"no such content: $src")
    require(ContentStore.isEntryName(name),
      s"entry name holds a tab or a line break: $name")
    writeManifest(ls(dir) + (name -> src))
  }

  /** List a directory: name → cid. */
  def ls(cid: String): Map[String, String] = {
    val p = stored(dirs, cid).getOrElse(
      throw new FileNotFoundException(s"not a directory: $cid"))
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val Array(name, child) = line.split('\t')
      name -> child
    }.toMap
  }

  def isDir(cid: String): Boolean = stored(dirs, cid).isDefined

  private def writeManifest(entries: Map[String, String]): String = {
    // the directory's ADDRESS is its UnixFS node CID (golden dir CIDs
    // reproduce — the canonical empty dir is pinned in CidSpec); the
    // manifest file is just our readable storage of the link set
    val node = Cid.directory(entries.map { case (n, c) =>
      n -> (c, dagSize(c)) })
    dagSizes.put(node.cid, node.tsize)
    val body = entries.toSeq.sorted
      .map { case (n, c) => s"$n\t$c" }.mkString("\n")
      .getBytes("UTF-8")
    val dest = dirs.resolve(node.cid)
    if (!Files.exists(dest)) {
      val tmp = Files.createTempFile(root, "dir", ".tmp")
      Files.write(tmp, body)
      Files.move(tmp, dest, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    node.cid
  }
}

object ContentStore {
  /** Whether `name` can be a directory entry: the manifest stores one
    * "name\tcid" per line, so a tab or a line break would corrupt it.
    */
  def isEntryName(name: String): Boolean =
    !name.exists(c => c == '\t' || c == '\n' || c == '\r')

  /** JVM-wide tiebreaker so same-millisecond manifests still order. */
  private val ingestSeq = new java.util.concurrent.atomic.AtomicLong(0)
}
