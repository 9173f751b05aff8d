package graft.gdx

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, FileOutputStream, IOException, RandomAccessFile}
import java.lang.invoke.MethodHandles
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets
import java.util.zip.{DataFormatException, Deflater, DeflaterOutputStream, Inflater}

/** Binary codec for the graft GDX container.
  *
  * Structural features follow the GDX data-section design (SPEC
  * GAMS-dev/gdx; SURVEY.md §1.1): per-symbol sparse coordinate lists
  * with delta-encoded keys (only the first-changed dimension onward is
  * rewritten per record), one global ordered UEL table, a file-level
  * acronym table, special-value sentinels in-band, optional zlib
  * compression per data block. The byte layout is re-derived (no
  * GAMS-produced files exist in this environment — SURVEY.md §0) and
  * gated on round-trip property tests (GdxCodecSpec).
  *
  * Layout (v3, magic "GRFTGDX3"):
  * {{{
  * magic "GRFTGDX3" | producer UTF | compressed byte
  * uelCount varint  | uel UTF ×N
  * acrCount varint  | per acronym: index varint, name UTF, text UTF
  * symCount varint
  * per symbol:
  *   name UTF | explText UTF | typ byte | dim byte | userInfo varint
  *   domains UTF ×dim | recordCount varint | dataLen varint | data section
  * }}}
  * Data section (dataLen bytes):
  * {{{
  * textPoolCount varint | text UTF ×N          (set associated texts)
  * blockCount varint
  * per block: recCount varint
  *          | per dim d: minKey_d varint, maxKey_d varint   (zone map)
  *          | blobLen varint
  * block blobs back-to-back (each independently zlib-deflated when compressed=1)
  * }}}
  * Inside a block, per record: firstChanged byte, then varint keys for
  * dims firstChanged..dim-1, then values (set: varint textIndex+1 or 0;
  * parameter: 1 double; var/equ: 5 doubles). Doubles are raw IEEE bits.
  * Delta encoding RESETS at each block boundary, so every block is
  * independently decodable — that is what buys the sparse BLOCK INDEX:
  * each block carries a PER-DIMENSION (min,max) UEL-index ZONE MAP
  * (2·dim varints — still noise next to 4096 records), and a pushed
  * label filter on ANY dimension skips whole blocks without inflating
  * them. dim_1 pruning is range-exact (writer paths emit sorted,
  * dim_1-clustered records, so a one-label slice decodes ~one block —
  * the sorted-first-dim range skip a 100 TB slice needs); dim_2+ zone
  * maps prune exactly like parquet column min/max stats — best when a
  * dim_1 run spans many blocks, never worse than no index (superset
  * pass, the per-record filter still applies). Symbol data sections
  * are independently decodable given the UEL table — the DSv2 scan
  * plans one InputPartition per symbol and skips other sections via
  * dataLen without decompressing them.
  *
  * Older files remain readable: v2 ("GRFTGDX2": block index carries
  * dim_1 (min,max) only — dims 2+ degrade to full-range) and v1
  * ("GRFTGDX1": no acronym table; one deflate stream per symbol with
  * the text pool inside, no block index). The writer always emits v3.
  */
object GdxCodec {

  val Magic: Array[Byte] = "GRFTGDX1".getBytes(StandardCharsets.US_ASCII)
  val Magic2: Array[Byte] = "GRFTGDX2".getBytes(StandardCharsets.US_ASCII)
  val Magic3: Array[Byte] = "GRFTGDX3".getBytes(StandardCharsets.US_ASCII)

  /** Byte width of one record's VALUE field(s) on the wire, per symbol
    * type: sets/aliases carry none (their text index lives with the
    * keys), parameters one IEEE double, variables/equations the 5-field
    * level/marginal/lower/upper/scale block. The single source of truth
    * for BOTH `readValuesInto` (reads width/8 doubles) and `skipValues`
    * (skips width bytes) on the lazy scan path — one definition so the
    * two can never silently desync (GdxCodecSpec pins the interleave).
    */
  def valueByteWidth(typ: Int): Int = typ match {
    case SymbolType.Set | SymbolType.Alias => 0
    case SymbolType.Parameter => 8
    case _ => 40
  }

  /** Records per data block (v2). Small enough that a block inflates in
    * L2-cache-sized chunks and a one-label slice decodes ~one block;
    * large enough that the per-block index (4 varints) is noise
    * (<0.1% of encoded size at typical ~20-60 B/record).
    */
  val DefaultBlockSize = 4096

  /** Total records decoded across all record streams in this JVM —
    * observability hook for the block-skip contract (GdxSourceSpec
    * asserts a pushed dim_1 slice decodes a strict subset). A LongAdder
    * so concurrent partition readers never contend.
    */
  private[graft] val decodedRecords = new java.util.concurrent.atomic.LongAdder

  // ------------------------------------------------------------ varint

  private[gdx] def writeVarInt(out: DataOutputStream, value: Int): Unit = {
    var v = value
    require(v >= 0, s"varint must be non-negative: $v")
    while ((v & ~0x7f) != 0) {
      out.writeByte((v & 0x7f) | 0x80)
      v >>>= 7
    }
    out.writeByte(v)
  }

  // ------------------------------------------------------------ publish

  /** Publish a fully-written temp file over `dst`, atomically where the
    * filesystem supports it. THE one publish implementation — the codec
    * writer, the streaming shard encoder, and the manifest writer all
    * route here so the fallback discipline cannot drift between copies.
    *
    * Semantics:
    *  - ATOMIC_MOVE first; readers never observe a missing/partial dst.
    *  - Fallback ONLY on CAPABILITY exceptions (AtomicMoveNotSupported,
    *    plus FileAlreadyExists/AccessDenied — ATOMIC_MOVE ignores
    *    REPLACE_EXISTING per the Files.move spec, and providers where
    *    dst exists signal it with those). A TRANSIENT IOException (EIO,
    *    a concurrent truncate having deleted the temp) propagates with
    *    dst INTACT.
    *  - The fallback is a plain REPLACE_EXISTING move — never a manual
    *    dst.delete() + rename pair, whose failure after the delete
    *    would leave NEITHER file.
    *  - If even the fallback fails, the exception names `tmp`, which is
    *    KEPT on disk: at that point it holds the only copy of the new
    *    bytes, and a caller's cleanup must not remove it (callers gate
    *    their temp-deletion on this method not having thrown).
    */
  private[graft] def publishAtomically(tmp: java.io.File, dst: java.io.File): Unit = {
    try java.nio.file.Files.move(tmp.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case e @ (_: java.nio.file.AtomicMoveNotSupportedException |
                _: java.nio.file.FileAlreadyExistsException |
                _: java.nio.file.AccessDeniedException) =>
        if (!tmp.exists()) throw e
        try java.nio.file.Files.move(tmp.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch {
          case e2: java.io.IOException =>
            throw new java.io.IOException(
              s"gdx: cannot publish $dst — new bytes kept at $tmp", e2)
        }
    }
  }

  // ------------------------------------------------------------ write

  def write(container: GdxContainer, path: String, compress: Boolean = true,
      blockSize: Int = DefaultBlockSize): Unit = {
    // validate BEFORE any byte is produced, and write via temp + atomic
    // rename (the GdxStreamEncoder discipline): streaming straight to
    // the destination would leave a torn file over a pre-existing good
    // one if anything throws mid-write.
    require(blockSize > 0, s"gdx: blockSize must be positive, got $blockSize")
    container.uels.foreach { u =>
      require(u.length <= 63, s"UEL label longer than 63 chars: $u")
    }
    require(container.acronyms.map(_.index).distinct.size == container.acronyms.size,
      s"gdx: duplicate acronym indices: ${container.acronyms.map(_.index).mkString(",")}")
    container.symbols.foreach { sym =>
      sym.records.foreach { r =>
        r.keys.foreach(k => require(k >= 0 && k < container.uels.size,
          s"gdx: record key index $k outside UEL table (${container.uels.size}) " +
            s"in symbol ${sym.name} — a reader would crash on label lookup"))
      }
    }
    val tmp = new java.io.File(path + s".inprogress-${java.util.UUID.randomUUID().toString.take(8)}")
    var fullyWritten = false
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(tmp), 1 << 16))
    try {
      out.write(Magic3)
      out.writeUTF(container.producer)
      out.writeBoolean(compress)
      writeVarInt(out, container.uels.size)
      container.uels.foreach(out.writeUTF)
      writeAcronyms(out, container.acronyms)
      writeVarInt(out, container.symbols.size)
      container.symbols.foreach { sym => writeSymbol(out, sym, compress, blockSize) }
      out.close()
      fullyWritten = true
      publishAtomically(tmp, new java.io.File(path))
    } finally {
      out.close() // no-op if already closed
      // a partial temp (write-body failure) is worthless — remove it;
      // after a FAILED publish of a fully-written temp, the temp is
      // the only copy of the new bytes (publishAtomically names it in
      // the exception) — keep it. After a successful publish the move
      // consumed it and delete() is a no-op.
      if (!fullyWritten) tmp.delete()
    }
  }

  private[gdx] def writeAcronyms(out: DataOutputStream, acrs: Seq[GdxAcronym]): Unit = {
    writeVarInt(out, acrs.size)
    acrs.foreach { a =>
      writeVarInt(out, a.index)
      out.writeUTF(a.name)
      out.writeUTF(a.text)
    }
  }

  private def writeSymbol(out: DataOutputStream, sym: GdxSymbol, compress: Boolean,
      blockSize: Int): Unit = {
    out.writeUTF(sym.name)
    out.writeUTF(sym.explText)
    out.writeByte(sym.typ)
    out.writeByte(sym.dim)
    writeVarInt(out, sym.userInfo)
    val doms = if (sym.domains.size == sym.dim) sym.domains else Seq.fill(sym.dim)("*")
    doms.foreach(out.writeUTF)
    val sorted = sortRecords(sym.records)
    writeVarInt(out, sorted.size)
    val blob = encodeRecords(sym, sorted, compress, blockSize)
    writeVarInt(out, blob.length)
    out.write(blob)
  }

  /** Record order is WRITER-DEPENDENT: GdxBuilder (this path) emits
    * UEL-index-sorted records — lexicographic by key tuple — which
    * maximizes delta-encoding wins; GdxStreamEncoder's sharded writes
    * emit arrival/label order. Readers must NOT assume index order
    * (no sorted-scan early termination): delta encoding itself is
    * order-agnostic — it only compresses better when sorted.
    */
  def sortRecords(records: Vector[GdxRecord]): Vector[GdxRecord] =
    records.sortWith { (a, b) =>
      val n = a.keys.length
      var i = 0
      while (i < n && a.keys(i) == b.keys(i)) i += 1
      i < n && a.keys(i) < b.keys(i)
    }

  /** One block's index entry: record count, per-dimension UEL-index
    * zone map (mins(d)..maxs(d) — v2 files carry dim_1 only, the rest
    * degrade to full range), and the (possibly deflated) blob length
    * in bytes.
    */
  private[gdx] final case class BlockMeta(recCount: Int, mins: Vector[Int],
      maxs: Vector[Int], len: Int)

  /** Shared per-record block encoder: delta-encodes records into
    * independently-deflated fixed-record-count blocks, tracking each
    * block's first-dim key range. ONE implementation for the eager
    * writer and the streaming shard encoder, so the two paths stay
    * byte-identical for identically-ordered input (GdxStreamEncoderSpec
    * pins this). The caller owns the text pool (pool ids arrive here
    * pre-resolved) and writes the section header; this class only emits
    * block blobs to `sink` and returns their index.
    */
  private[gdx] final class BlockWriter(typ: Int, dim: Int, compress: Boolean,
      blockSize: Int, sink: java.io.OutputStream) {
    require(blockSize > 0, s"gdx: blockSize must be positive, got $blockSize")
    private val metas = Vector.newBuilder[BlockMeta]
    private val curBuf = new ByteArrayOutputStream()
    private val cur = new DataOutputStream(curBuf)
    private var prev: Array[Int] = null
    private var count = 0
    // per-dim zone map of the in-flight block
    private val minD = Array.fill(math.max(dim, 1))(Int.MaxValue)
    private val maxD = Array.fill(math.max(dim, 1))(-1)

    /** `textCode` = pool index + 1, or 0 for no text (sets only). */
    def add(keys: Array[Int], values: Array[Double], textCode: Int): Unit = {
      require(keys.length == dim, s"record arity ${keys.length} != dim $dim")
      val first =
        if (prev == null) 0
        else {
          var i = 0
          while (i < dim && prev(i) == keys(i)) i += 1
          i
        }
      cur.writeByte(first)
      var i = first
      while (i < dim) { writeVarInt(cur, keys(i)); i += 1 }
      typ match {
        case SymbolType.Set | SymbolType.Alias =>
          writeVarInt(cur, textCode)
        case SymbolType.Parameter =>
          cur.writeDouble(if (values.nonEmpty) values(0) else 0.0)
        case _ =>
          var f = 0
          while (f < 5) {
            cur.writeDouble(if (f < values.length) values(f) else 0.0); f += 1
          }
      }
      prev = keys
      var d = 0
      while (d < dim) {
        if (keys(d) < minD(d)) minD(d) = keys(d)
        if (keys(d) > maxD(d)) maxD(d) = keys(d)
        d += 1
      }
      count += 1
      if (count == blockSize) flushBlock()
    }

    private def flushBlock(): Unit = if (count > 0) {
      cur.flush()
      val rawBytes = curBuf.toByteArray
      val outBytes =
        if (compress) {
          val bos = new ByteArrayOutputStream(rawBytes.length / 2 + 16)
          // end() explicitly: DeflaterOutputStream.close() does NOT end
          // a caller-supplied Deflater, and per-block native zlib
          // buffers would otherwise live until finalization — the
          // writer-side twin of the reader's per-block inflater.end()
          val defl = new Deflater(Deflater.BEST_SPEED)
          try {
            val ds = new DeflaterOutputStream(bos, defl)
            ds.write(rawBytes)
            ds.close()
          } finally defl.end()
          bos.toByteArray
        } else rawBytes
      sink.write(outBytes)
      metas += BlockMeta(count,
        Vector.tabulate(dim)(minD(_)), Vector.tabulate(dim)(maxD(_)),
        outBytes.length)
      curBuf.reset()
      // delta reset: every block decodes independently (the skip contract)
      prev = null
      count = 0
      java.util.Arrays.fill(minD, Int.MaxValue)
      java.util.Arrays.fill(maxD, -1)
    }

    /** Flush the trailing partial block and return the block index. */
    def finish(): Vector[BlockMeta] = { flushBlock(); metas.result() }
  }

  /** Serialize a v3 data-section header (text pool + block index with
    * per-dim zone maps).
    */
  private[gdx] def writeSectionHeader(d: DataOutputStream,
      texts: Iterable[String], metas: Seq[BlockMeta]): Unit = {
    writeVarInt(d, texts.size)
    texts.foreach(d.writeUTF)
    writeVarInt(d, metas.size)
    metas.foreach { m =>
      writeVarInt(d, m.recCount)
      var i = 0
      while (i < m.mins.length) {
        writeVarInt(d, m.mins(i))
        writeVarInt(d, m.maxs(i))
        i += 1
      }
      writeVarInt(d, m.len)
    }
  }

  private def encodeRecords(sym: GdxSymbol, sorted: Vector[GdxRecord],
      compress: Boolean, blockSize: Int): Array[Byte] = {
    // set associated texts: per-symbol text pool, referenced by index
    val textPool = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    sorted.foreach(_.text.foreach(t => textPool.getOrElseUpdate(t, textPool.size)))
    val blocksBuf = new ByteArrayOutputStream()
    val bw = new BlockWriter(sym.typ, sym.dim, compress, blockSize, blocksBuf)
    sorted.foreach { r =>
      require(r.keys.length == sym.dim, s"record dim mismatch in ${sym.name}")
      bw.add(r.keys, r.values, r.text.map(textPool(_) + 1).getOrElse(0))
    }
    val metas = bw.finish()
    val raw = new ByteArrayOutputStream()
    val d = new DataOutputStream(raw)
    writeSectionHeader(d, textPool.keys, metas)
    d.flush()
    blocksBuf.writeTo(raw)
    raw.toByteArray
  }

  // ------------------------------------------------------------ read

  /** Catalog entry: symbol metadata + the byte offset/length of its data
    * blob, so scans can seek straight to one symbol.
    */
  final case class SymbolMeta(name: String, typ: Int, dim: Int, explText: String,
      userInfo: Int, domains: Seq[String], records: Int, offset: Long, dataLen: Int)

  final case class Header(producer: String, compressed: Boolean,
      uels: IndexedSeq[String], metas: Vector[SymbolMeta],
      version: Int = 2, acronyms: Vector[GdxAcronym] = Vector.empty)

  /** Read header, UEL table, acronym table and symbol metas; data blobs
    * are skipped (cheap catalog read — mirrors
    * gdxSystemInfo/gdxSymbolInfo/gdxAcronymGetInfo).
    */
  def readHeader(path: String): Header = {
    val in = new FileCursor(path, 8, () => path)
    try {
      in.region(0L, in.fileLength, deflate = false)
      val magic = in.bytes(Magic.length)
      val version =
        if (magic.sameElements(Magic3)) 3
        else if (magic.sameElements(Magic2)) 2
        else if (magic.sameElements(Magic)) 1
        else throw new IllegalArgumentException(s"not a graft GDX file: $path")
      val producer = in.readUTF()
      val compressed = in.readByte() != 0
      val uels = Vector.fill(in.count())(in.readUTF())
      val acronyms =
        if (version >= 2)
          Vector.fill(in.count())(GdxAcronym(in.readVarInt(), in.readUTF(), in.readUTF()))
        else Vector.empty
      val metas = Vector.fill(in.count()) {
        val name = in.readUTF()
        val expl = in.readUTF()
        val typ = in.readByte()
        val dim = in.readByte()
        if (dim > 20) in.corrupt(s"symbol $name declares dim $dim (GDX allows 0..20)")
        val userInfo = in.readVarInt()
        val domains = Seq.fill(dim)(in.readUTF())
        val nRec = in.readVarInt()
        val dataLen = in.readVarInt()
        val offset = in.position
        in.skip(dataLen, s"data section of $name")
        SymbolMeta(name, typ, dim, expl, userInfo, domains, nRec, offset, dataLen)
      }
      Header(producer, compressed, uels, metas, version, acronyms)
    } finally in.close()
  }

  /** Decode one symbol's records given its meta (seeks to the blob).
    * Convenience eager form of [[openRecordStream]].
    */
  def readSymbolRecords(path: String, header: Header, meta: SymbolMeta): Vector[GdxRecord] = {
    val s = openRecordStream(path, header, meta)
    try s.toVector finally s.close()
  }

  /** STREAMING decode of one symbol's records: seeks to the section and
    * decodes block-at-a-time through one [[FileCursor]] — the DSv2
    * `PartitionReader` pulls from this, so per-task read memory is
    * O(window + UEL table + block index) regardless of shard size (the
    * eager Vector form would make task memory proportional to shard
    * records).
    *
    * `dimAllowed`: admissible UEL indices per dimension (0-based) from
    * pushed label filters. Blocks whose zone map excludes every allowed
    * index on ANY filtered dimension are SKIPPED WITHOUT READING them —
    * dim_1 range-exactly (writer paths emit dim_1-clustered records, so
    * a one-label slice decodes ~one block out of records/4096), dims 2+
    * via the v3 per-dim zone map (parquet-stats-style pruning). A
    * SUPERSET pass: the per-record filter (reader `keep`) still applies.
    * v2 files prune on dim_1 only; v1 files decode fully (no index) —
    * the filter stays correct via the reader's per-record check.
    */
  def openRecordStream(path: String, header: Header, meta: SymbolMeta,
      dimAllowed: Map[Int, Set[Int]] = Map.empty): GdxRecordStream =
    new GdxRecordStream(path, header.compressed, header.version, meta, dimAllowed)

  /** Longest record a symbol can put on the wire: the firstChanged
    * byte, a ≤5-byte varint per key, the value bytes, and for sets the
    * ≤5-byte text varint. Caps a block's decoded size and bounds how far
    * one record decode reads before its bounds check.
    */
  private[gdx] def maxRecordWidth(typ: Int, dim: Int): Int =
    1 + 5 * dim + valueByteWidth(typ) +
      (if (typ == SymbolType.Set || typ == SymbolType.Alias) 5 else 0)

  /** Block-at-a-time record decode. A v2/v3 section is its block index
    * plus block blobs; each matching blob decodes through the stream's
    * one [[FileCursor]] (one reused Inflater, one refillable byte
    * window), and a non-matching blob is passed over without a read. A
    * v1 section (one stream holding text pool and records, no index) is
    * decoded as a single block through the same cursor.
    *
    * The block index is checked at open, and every block as it is
    * decoded; a violation is an IOException naming file, symbol and
    * block index:
    *  - block record counts sum to the symbol's record count, and block
    *    lengths to the bytes after the index;
    *  - a block decodes to at most recCount × [[maxRecordWidth]] bytes;
    *  - a block holds at least recCount records, and nothing after them;
    *  - a block's first record shares no keys with the block before it.
    */
  final class GdxRecordStream private[GdxCodec] (path: String, compressed: Boolean,
      version: Int, meta: SymbolMeta, dimAllowed: Map[Int, Set[Int]])
      extends Iterator[GdxRecord] with java.io.Closeable {
    private val dim = meta.dim
    private val valueBytes = valueByteWidth(meta.typ)
    private val hasText = meta.typ == SymbolType.Set || meta.typ == SymbolType.Alias
    private val width = maxRecordWidth(meta.typ, dim)
    private val sectionEnd = meta.offset + meta.dataLen
    // the block being decoded (-1 while reading the section header)
    private var blockIdx = -1
    private var blockRecs = 0
    private val in = new FileCursor(path, width, () =>
      s"$path, symbol ${meta.name}" + (if (blockIdx < 0) "" else s", block $blockIdx"))
    private var decodedCount = 0L
    private var published = 0L
    private val prev = new Array[Int](dim)
    // leading keys the next record may share with `prev`: none for a
    // block's first record, since delta encoding resets per block
    private var shared = 0
    private var remaining = 0
    // a block is open: its end is checked and its count published when
    // it runs out of records
    private var open = false
    private var nextBlock = 0
    private var nextBlobAt = 0L
    // a constructor that throws leaves the caller no handle to close,
    // so the fd must be released HERE or task retries leak one each
    private val (texts, blocks) =
      try if (version >= 2) readIndex() else {
        in.region(meta.offset, sectionEnd, compressed)
        val ts = readTexts()
        in.capRest(meta.records.toLong * width)
        (ts, Vector.empty[BlockMeta])
      } catch {
        case e: Throwable => in.close(); throw e
      }
    if (version < 2) { blockIdx = 0; blockRecs = meta.records; remaining = meta.records; open = true }

    /** Records this stream actually decoded (observability: block skip). */
    def decoded: Long = decodedCount

    /** v2/v3 section header: text pool and block index, checked against
      * the symbol's record count and the section length.
      */
    private def readIndex(): (Vector[String], Vector[BlockMeta]) = {
      in.region(meta.offset, sectionEnd, deflate = false)
      val ts = readTexts()
      val bs = Vector.fill(in.count()) {
        val rc = in.readVarInt()
        if (version >= 3) {
          // per-dim zone map
          val mins = new Array[Int](dim)
          val maxs = new Array[Int](dim)
          var i = 0
          while (i < dim) {
            mins(i) = in.readVarInt(); maxs(i) = in.readVarInt(); i += 1
          }
          BlockMeta(rc, mins.toVector, maxs.toVector, in.readVarInt())
        } else {
          // v2 carries dim_1 only; dims 2+ degrade to full range
          val (lo, hi) = (in.readVarInt(), in.readVarInt())
          val mins = Vector.tabulate(dim)(i => if (i == 0) lo else 0)
          val maxs = Vector.tabulate(dim)(i => if (i == 0) hi else Int.MaxValue)
          BlockMeta(rc, mins, maxs, in.readVarInt())
        }
      }
      nextBlobAt = in.position
      val recs = bs.iterator.map(_.recCount.toLong).sum
      if (recs != meta.records)
        in.corrupt(s"record counts of ${bs.size} blocks sum to $recs, not the symbol's ${meta.records}")
      val bytes = bs.iterator.map(_.len.toLong).sum
      if (bytes != sectionEnd - nextBlobAt)
        in.corrupt(s"block lengths of ${bs.size} blocks sum to $bytes, but ${sectionEnd - nextBlobAt} " +
          "bytes follow the block index")
      (ts, bs)
    }

    /** The set-text pool; every entry is some record's text. */
    private def readTexts(): Vector[String] = {
      val n = in.count()
      if (n > meta.records) in.corrupt(s"text pool of $n entries for ${meta.records} records")
      Vector.fill(n)(in.readUTF())
    }

    private def blockMatches(b: BlockMeta): Boolean =
      dimAllowed.forall { case (d, allowed) =>
        // small allowed sets (pushed labels) → iterate the set, not the
        // range; a dim past this symbol's arity never filters
        d >= dim || allowed.exists(k => k >= b.mins(d) && k <= b.maxs(d))
      }

    /** Close out a used-up block (its end checked, its count published)
      * and open the next matching one; false when the section is done.
      */
    private def ensureBlock(): Boolean = {
      while (remaining == 0 && (open || nextBlock < blocks.length)) {
        if (open) {
          in.expectEnd(s"its $blockRecs records")
          open = false
          publish()
        } else {
          val b = blocks(nextBlock)
          val at = nextBlobAt
          nextBlock += 1
          nextBlobAt += b.len
          if (blockMatches(b)) {
            blockIdx = nextBlock - 1
            blockRecs = b.recCount
            in.region(at, at + b.len, compressed, b.recCount.toLong * width)
            shared = 0
            remaining = b.recCount
            open = true
          }
        }
      }
      remaining > 0
    }

    private def publish(): Unit = {
      decodedRecords.add(decodedCount - published)
      published = decodedCount
    }

    private def truncated(): Nothing =
      in.corrupt(s"block ends before its $blockRecs records")

    override def hasNext: Boolean = remaining > 0 || ensureBlock()

    /** Decode the next record into CALLER-OWNED arrays — the flyweight
      * path the columnar reader rides (r14): no per-record GdxRecord /
      * keys / values allocation. `values` must hold ≥ the symbol's
      * value arity (0/1/5; values(0) is zeroed for sets so the
      * special-value flag columns read 0.0, matching [[next]]'s
      * empty-values semantics). Returns the 1-based text-pool index
      * (0 = no text) — resolve via [[textAt]].
      */
    def nextInto(keys: Array[Int], values: Array[Double]): Int = {
      val t = nextKeysInto(keys)
      readValuesInto(values)
      t
    }

    /** Keys-only decode — the LAZY half of the flyweight path (r15):
      * delta keys + set-text index only; the value field(s) stay
      * unparsed in the window until the caller decides the record
      * survives its residual filter ([[readValuesInto]]) or not
      * ([[skipValues]]). Every call MUST be paired with exactly one of
      * the two value calls before the next record (or [[hasNext]]).
      */
    def nextKeysInto(keys: Array[Int]): Int = {
      if (remaining == 0 && !ensureBlock())
        throw new NoSuchElementException(s"gdx: past end of ${meta.name}")
      val c = in
      c.fill(width)
      val first = c.u8()
      if (first > shared) c.corrupt(s"record shares $first leading keys, at most $shared can be")
      var i = first
      while (i < dim) { prev(i) = c.varInt(); i += 1 }
      shared = dim
      System.arraycopy(prev, 0, keys, 0, dim)
      val t = if (hasText) c.varInt() else 0
      if (c.p > c.lim) truncated()
      remaining -= 1
      decodedCount += 1
      t
    }

    /** Parse the current record's value field(s) (pairs with
      * [[nextKeysInto]]). Sets zero values(0) so the special-value flag
      * columns read 0.0 — [[next]]'s empty-values semantics. Reads
      * exactly [[GdxCodec.valueByteWidth]](typ) bytes — the SAME
      * single source of truth [[skipValues]] skips, so the lazy scan
      * path cannot desync if the value encoding ever changes.
      */
    def readValuesInto(values: Array[Double]): Unit = {
      val n = valueBytes >> 3
      if (n == 0) { if (values.length > 0) values(0) = 0.0 }
      else {
        var f = 0
        while (f < n) { values(f) = in.f64(); f += 1 }
        if (in.p > in.lim) truncated()
      }
    }

    /** Skip the current record's value bytes without assembling them
      * (pairs with [[nextKeysInto]] when the residual filter killed the
      * record): a cursor bump of [[GdxCodec.valueByteWidth]] bytes.
      */
    def skipValues(): Unit = {
      in.p += valueBytes
      if (in.p > in.lim) truncated()
    }

    def textAt(t: Int): String = texts(t - 1)

    private val scratchVals = new Array[Double](5)

    override def next(): GdxRecord = {
      val keys = new Array[Int](dim)
      val t = nextInto(keys, scratchVals)
      meta.typ match {
        case SymbolType.Set | SymbolType.Alias =>
          GdxRecord(keys, Array.empty, if (t == 0) None else Some(texts(t - 1)))
        case SymbolType.Parameter =>
          GdxRecord(keys, Array(scratchVals(0)))
        case _ =>
          GdxRecord(keys, java.util.Arrays.copyOf(scratchVals, 5))
      }
    }

    override def close(): Unit = {
      publish()
      in.close()
    }
  }

  private val BigEndianLong =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.BIG_ENDIAN)

  /** Buffered reader over one GDX file: ONE refillable byte window and
    * an Int cursor `p`, fed from a region of the file either raw or
    * through ONE reused Inflater (reset per region). The catalog read,
    * section headers and record blocks all decode through it, so read
    * memory is O(window) whatever the section or block size.
    *
    * The window keeps `slack` spare bytes past the filled part `lim`:
    * after [[fill]]`(n)` with n ≤ slack, a decode may read n bytes with
    * the unchecked [[u8]]/[[varInt]]/[[f64]] and check `p <= lim` once
    * after, which keeps per-byte bounds checks out of the record loop
    * (past the region's end the window reads as zeros).
    * The `read*` methods check each field. Every failure is an
    * IOException naming `where()`.
    */
  private[gdx] final class FileCursor(path: String, slack: Int, where: () => String)
      extends java.io.Closeable {
    private val file = new RandomAccessFile(path, "r")
    private var inflater: Inflater = null
    private var comp: Array[Byte] = null
    var buf = new Array[Byte]((1 << 16) + slack)
    var p = 0
    var lim = 0
    private var srcPos = 0L
    private var srcEnd = 0L
    private var deflated = false
    // bytes the current region has put into the window, and their cap
    private var produced = 0L
    private var cap = Long.MaxValue

    def fileLength: Long = file.length()

    def corrupt(msg: String): Nothing = throw new IOException(s"gdx: $msg (${where()})")

    /** Read file bytes [start, end) next, inflated when `deflate`; the
      * region may put at most `cap` bytes into the window.
      */
    def region(start: Long, end: Long, deflate: Boolean, cap: Long = Long.MaxValue): Unit = {
      if (!deflate && end - start > cap)
        corrupt(s"${end - start} stored bytes exceed its cap of $cap bytes")
      p = 0; lim = 0; srcPos = start; srcEnd = end
      produced = 0L; this.cap = cap
      deflated = deflate
      if (deflate) {
        if (inflater == null) { inflater = new Inflater(); comp = new Array[Byte](1 << 15) }
        else inflater.reset()
      }
    }

    /** Cap what the region may still produce at `n` bytes past `p`. */
    def capRest(n: Long): Unit = cap = produced - (lim - p) + n

    /** Make `n` bytes available at `p`, or all the region has left. */
    def fill(n: Int): Unit = if (lim - p < n) {
      if (n + slack > buf.length) buf = java.util.Arrays.copyOf(buf, n + slack)
      System.arraycopy(buf, p, buf, 0, lim - p)
      lim -= p
      p = 0
      while (lim < n && refill()) ()
      // region end: zeros past `lim`, so an unchecked decode of a
      // truncated record reads zeros and fails its `p <= lim` check
      if (lim < n) java.util.Arrays.fill(buf, lim, buf.length, 0.toByte)
    }

    /** Append region bytes at `lim`; false once the region is drained. */
    private def refill(): Boolean = {
      val room = buf.length - slack - lim
      val got =
        if (!deflated) {
          val k = math.min(room.toLong, srcEnd - srcPos).toInt
          readFile(buf, lim, k)
          k
        } else {
          if (inflater.needsInput() && srcPos < srcEnd) {
            val k = math.min(comp.length.toLong, srcEnd - srcPos).toInt
            readFile(comp, 0, k)
            inflater.setInput(comp, 0, k)
          }
          val r =
            try inflater.inflate(buf, lim, room)
            catch { case e: DataFormatException => corrupt(s"bad deflate data: ${e.getMessage}") }
          if (r == 0 && !inflater.finished() && !inflater.needsInput())
            corrupt("deflate stream needs a preset dictionary")
          r
        }
      lim += got
      produced += got
      if (produced > cap) corrupt(s"decodes past its cap of $cap bytes")
      got > 0 || deflated && !inflater.finished() && srcPos < srcEnd
    }

    private def readFile(dst: Array[Byte], off: Int, len: Int): Unit = {
      file.seek(srcPos)
      try file.readFully(dst, off, len)
      catch { case _: EOFException => corrupt(s"file ends before byte ${srcPos + len}") }
      srcPos += len
    }

    /** Fail unless the region is used up: no bytes left and, when
      * deflated, its stream ended with the region.
      */
    def expectEnd(what: String): Unit = {
      fill(1)
      if (p < lim || srcPos < srcEnd || deflated && inflater.getRemaining > 0)
        corrupt(s"bytes left over after $what")
      if (deflated && !inflater.finished())
        corrupt(s"deflate stream does not end after $what")
    }

    // ---- unchecked reads: fill first, compare p with lim after

    def u8(): Int = { val b = buf(p) & 0xff; p += 1; b }

    /** The [[GdxCodec.writeVarInt]] inverse; reads at most 5 bytes. */
    def varInt(): Int = {
      var shift = 0
      var result = 0
      var b = buf(p); p += 1
      while ((b & 0x80) != 0) {
        result |= (b & 0x7f) << shift
        shift += 7
        // unbounded shift would WRAP (JVM uses the low 5 bits), turning a
        // corrupt varint into a silently wrong count far from the damage
        if (shift > 28) corrupt("malformed varint (>5 bytes)")
        b = buf(p); p += 1
      }
      // at shift==28 only bits 0-2 of the final byte fit in a
      // non-negative Int (writeVarInt encodes values >= 0 only); bit 3
      // would flip the sign and bits 4-6 shift out entirely — the same
      // silently-wrong-count failure the >5-byte guard exists for, just
      // one byte earlier
      if (shift == 28 && (b & 0x78) != 0) corrupt("malformed varint (value overflows Int)")
      result | ((b & 0x7f) << shift)
    }

    /** Big-endian IEEE double: the inverse of `DataOutputStream.writeDouble`. */
    def f64(): Double = {
      val v = java.lang.Double.longBitsToDouble(BigEndianLong.get(buf, p): Long)
      p += 8
      v
    }

    // ---- checked reads (headers)

    private def need(n: Int): Unit = {
      fill(n)
      if (lim - p < n) corrupt(s"truncated: ${n - (lim - p)} bytes missing")
    }

    def bytes(n: Int): Array[Byte] = {
      need(n)
      p += n
      java.util.Arrays.copyOfRange(buf, p - n, p)
    }

    def readByte(): Int = { need(1); u8() }

    def readVarInt(): Int = {
      fill(5)
      val v = varInt()
      if (p > lim) corrupt("truncated varint")
      v
    }

    /** A varint element count, checked against the bytes a raw region
      * has left (every element takes at least one byte).
      */
    def count(): Int = {
      val n = readVarInt()
      if (!deflated && n > srcEnd - position) corrupt(s"count $n exceeds the bytes left")
      n
    }

    /** A `DataOutput.writeUTF` string. */
    def readUTF(): String = {
      need(2)
      val n = ((buf(p) & 0xff) << 8) | (buf(p + 1) & 0xff)
      need(2 + n)
      var i = p + 2
      while (i < p + 2 + n && buf(i) > 0) i += 1
      // bytes 1..127 stand for themselves in modified UTF-8
      val s =
        if (i == p + 2 + n) new String(buf, p + 2, n, StandardCharsets.US_ASCII)
        else DataInputStream.readUTF(new DataInputStream(new ByteArrayInputStream(buf, p, 2 + n)))
      p += 2 + n
      s
    }

    /** File offset of the cursor (raw regions). */
    def position: Long = srcPos - (lim - p)

    /** Pass over `n` bytes of a raw region without reading them. */
    def skip(n: Long, what: => String): Unit = {
      if (n > srcEnd - position) corrupt(s"$what runs past the end of the file")
      if (n <= lim - p) p += n.toInt
      else { srcPos = position + n; p = 0; lim = 0 }
    }

    override def close(): Unit = {
      if (inflater != null) inflater.end()
      file.close()
    }
  }

  /** Full read (all symbols + acronym table). */
  def read(path: String): GdxContainer = {
    val h = readHeader(path)
    GdxContainer(h.producer, h.uels,
      h.metas.map(m => GdxSymbol(m.name, m.typ, m.dim, m.explText, m.userInfo,
        m.domains, readSymbolRecords(path, h, m))),
      h.acronyms)
  }
}
