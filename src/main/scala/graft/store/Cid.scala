package graft.store

import java.io.InputStream
import java.security.MessageDigest

/** IPFS CIDv0 codec — dag-pb/UnixFS merkle addressing with go-ipfs's
  * default `add` parameters, so graft's content store issues the SAME
  * CIDs the reference's IPFS daemon does
  * (`/root/reference/src/comlake/core/fs/InterPlanetaryFileSystem.java:47-121`).
  * The golden CIDs from the reference's own test suite
  * (`test/comlake/core/api_test.clj:36-44`) reproduce byte-for-byte:
  * CidSpec pins `Interjection`, `population.csv`, `projects.json` and
  * the canonical empty directory.
  *
  * Encoding, all hand-rolled on the JDK (no protobuf dependency):
  *   - chunking: fixed 262144-byte chunks, balanced DAG, ≤174 links
  *     per node (go-ipfs defaults)
  *   - leaf/file node: dag-pb PBNode{Data = UnixFS{Type=File,
  *     Data=chunk, filesize}}; multi-chunk roots carry links
  *     (Name="", Tsize) + blocksizes
  *   - directory node: PBNode{links sorted by name, Data =
  *     UnixFS{Type=Directory}}
  *   - dag-pb canonical field order: links (field 2) BEFORE Data
  *     (field 1); PBLink fields Hash, Name, Tsize
  *   - CIDv0 = base58btc(0x12 0x20 ‖ sha2-256(block))
  *
  * Everything is pure and deterministic, so distributed ingest tasks
  * can compute CIDs executor-side with no coordination.
  */
object Cid {

  /** go-ipfs default chunker size. */
  val ChunkSize = 262144
  /** go-ipfs DefaultLinksPerBlock (8 KiB / (hash 34 + tsize 8)). */
  val LinksPerBlock = 174

  /** A built dag node: its CID, cumulative dag size (this block plus
    * every descendant block — PBLink.Tsize), and the UnixFS logical
    * file size it covers (blocksizes entry).
    */
  final case class Node(cid: String, tsize: Long, filesize: Long)

  // --- protobuf primitives -------------------------------------------

  private def varint(n: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(10)
    var v = n
    do {
      val b = (v & 0x7f).toInt
      v = v >>> 7
      out.write(if (v != 0) b | 0x80 else b)
    } while (v != 0)
    out.toByteArray
  }

  private def lenDelim(tag: Int, body: Array[Byte]): Array[Byte] = {
    val len = varint(body.length.toLong)
    val out = new java.io.ByteArrayOutputStream(body.length + 6)
    out.write(tag << 3 | 2)
    out.write(len, 0, len.length)
    out.write(body, 0, body.length)
    out.toByteArray
  }

  private def varintField(tag: Int, v: Long): Array[Byte] =
    Array((tag << 3).toByte) ++ varint(v)

  // --- UnixFS data messages --------------------------------------------

  /** UnixFS Data{Type=File(2), Data=chunk?, filesize, blocksizes*}. */
  private def unixfsFile(chunk: Array[Byte], filesize: Long,
      blocksizes: Seq[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.writeBytes(varintField(1, 2)) // Type = File
    if (chunk.nonEmpty) out.writeBytes(lenDelim(2, chunk))
    out.writeBytes(varintField(3, filesize))
    blocksizes.foreach(b => out.writeBytes(varintField(4, b)))
    out.toByteArray
  }

  /** UnixFS Data{Type=Directory(1)}. */
  private val unixfsDir: Array[Byte] = varintField(1, 1)

  // --- dag-pb nodes ----------------------------------------------------

  /** PBLink{Hash(1), Name(2), Tsize(3)} — field order per the dag-pb
    * spec; Name is emitted even when empty (go-merkledag behavior for
    * file-chunk links).
    */
  private def pbLink(hash: Array[Byte], name: String, tsize: Long)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.writeBytes(lenDelim(1, hash))
    out.writeBytes(lenDelim(2, name.getBytes("UTF-8")))
    out.writeBytes(varintField(3, tsize))
    out.toByteArray
  }

  /** PBNode: links (field 2) first, then Data (field 1) — the dag-pb
    * canonical serialization order.
    */
  private def pbNode(links: Seq[Array[Byte]], data: Array[Byte])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    links.foreach(l => out.writeBytes(lenDelim(2, l)))
    out.writeBytes(lenDelim(1, data))
    out.toByteArray
  }

  private def blockCid(block: Array[Byte]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    base58(Array(0x12.toByte, 0x20.toByte) ++ md.digest(block))
  }

  // --- base58btc -------------------------------------------------------

  private val Alphabet =
    "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
  private val AlphabetIndex: Map[Char, Int] =
    Alphabet.zipWithIndex.toMap

  private[store] def base58(bytes: Array[Byte]): String = {
    var n = BigInt(1, bytes)
    val sb = new StringBuilder
    while (n > 0) {
      val (q, r) = n /% 58
      sb.append(Alphabet(r.toInt))
      n = q
    }
    bytes.takeWhile(_ == 0).foreach(_ => sb.append(Alphabet(0)))
    sb.reverseInPlace().toString
  }

  private[store] def base58Decode(s: String): Array[Byte] = {
    val n = s.foldLeft(BigInt(0)) { (acc, c) =>
      acc * 58 + AlphabetIndex.getOrElse(c,
        throw new IllegalArgumentException(s"not base58: $s"))
    }
    val body = n.toByteArray.dropWhile(_ == 0)
    Array.fill[Byte](s.takeWhile(_ == Alphabet(0)).length)(0) ++ body
  }

  /** Whether `s` is a CIDv0 string — base58btc of the sha2-256
    * multihash 0x12 0x20 plus 32 digest bytes, the only form this
    * module issues (46 characters, "Qm…").
    */
  def isV0(s: String): Boolean =
    s.length == 46 && s.startsWith("Qm") && s.forall(AlphabetIndex.contains) && {
      val b = base58Decode(s)
      b.length == 34 && b(0) == 0x12 && b(1) == 0x20
    }

  /** The 34 multihash bytes a CIDv0 string addresses (for PBLink.Hash). */
  private def multihash(cid: String): Array[Byte] = base58Decode(cid)

  // --- builders ----------------------------------------------------------

  private def leaf(chunk: Array[Byte]): (Node, Array[Byte]) = {
    val block = pbNode(Nil, unixfsFile(chunk, chunk.length.toLong, Nil))
    (Node(blockCid(block), block.length.toLong, chunk.length.toLong), block)
  }

  /** Parent of ≤ LinksPerBlock file nodes. */
  private def fileParent(children: Seq[Node]): Node = {
    val links = children.map(c => pbLink(multihash(c.cid), "", c.tsize))
    val block = pbNode(links,
      unixfsFile(Array.emptyByteArray, children.map(_.filesize).sum,
        children.map(_.filesize)))
    Node(blockCid(block), block.length + children.map(_.tsize).sum,
      children.map(_.filesize).sum)
  }

  /** Balanced DAG over the chunk stream: leaves in arrival order,
    * grouped ≤174 per parent, repeated until one root — the layout
    * go-ipfs's balanced builder produces. Streaming: only one partial
    * group of nodes per level is ever held, so memory is
    * O(depth × 174) regardless of file size (a 100 TB file is depth 4).
    */
  def ofStream(in: InputStream): Node = {
    val buf = new Array[Byte](ChunkSize)
    ofChunks(new Iterator[Array[Byte]] {
      private var n = readFully(in, buf)
      def hasNext: Boolean = n > 0
      def next(): Array[Byte] = {
        val c = java.util.Arrays.copyOf(buf, n)
        n = readFully(in, buf)
        c
      }
    })
  }

  /** Eager bottom-up build: a full group of 174 collapses into its
    * parent the moment it completes, cascading upward; the final flush
    * wraps each level's remainder exactly like one more `grouped` pass
    * would. Produces the identical tree to the all-at-once
    * [[rootOfNaive]] (property-tested across group boundaries in
    * CidSpec) while holding at most one partial group per level.
    */
  private[store] def ofChunks(chunks: Iterator[Array[Byte]]): Node = {
    val levels = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Node])
    def append(i: Int, node: Node): Unit = {
      if (i == levels.length)
        levels += scala.collection.mutable.ArrayBuffer.empty[Node]
      levels(i) += node
      if (levels(i).length == LinksPerBlock) {
        val p = fileParent(levels(i).toSeq)
        levels(i).clear()
        append(i + 1, p)
      }
    }
    var any = false
    chunks.foreach { c => append(0, leaf(c)._1); any = true }
    if (!any) leaf(Array.emptyByteArray)._1
    else {
      var i = 0
      var root: Node = null
      while (root == null) {
        if (i == levels.length - 1 && levels(i).length == 1)
          root = levels(i).head
        else {
          if (levels(i).nonEmpty) append(i + 1, fileParent(levels(i).toSeq))
          i += 1
        }
      }
      root
    }
  }

  /** The obviously-correct whole-level build (the shape the dag-pb
    * docs describe): all leaves, then repeated `grouped(174)` passes.
    * Test-only reference implementation for [[ofChunks]].
    */
  private[store] def rootOfNaive(chunks: Iterator[Array[Byte]]): Node = {
    var level = chunks.map(c => leaf(c)._1).toList
    if (level.isEmpty) level = List(leaf(Array.emptyByteArray)._1)
    while (level.length > 1)
      level = level.grouped(LinksPerBlock).map(fileParent).toList
    level.head
  }

  def ofBytes(content: Array[Byte]): Node =
    ofStream(new java.io.ByteArrayInputStream(content))

  private def readFully(in: InputStream, buf: Array[Byte]): Int = {
    var off = 0
    var r = 0
    while (off < buf.length &&
        { r = in.read(buf, off, buf.length - off); r >= 0 })
      off += r
    off
  }

  /** Directory node over (name → child) entries, links sorted by name
    * (go-unixfs order). Children are (cid, tsize) — cumulative dag
    * sizes, so nested directories compose.
    */
  def directory(entries: Map[String, (String, Long)]): Node = {
    val links = entries.toSeq.sortBy(_._1).map { case (name, (cid, tsize)) =>
      pbLink(multihash(cid), name, tsize)
    }
    val block = pbNode(links, unixfsDir)
    Node(blockCid(block),
      block.length + entries.valuesIterator.map(_._2).sum, 0L)
  }
}
