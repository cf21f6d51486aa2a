package graft.build

import graft.codec.PostingCodec
import graft.model.{DocMeta, PostingList}
import graft.query.WideTermSetQ

import java.nio.charset.StandardCharsets.UTF_8

/** One segment's term dictionary and postings as ONE row of flat
  * primitive arrays — the resident form of a segment, the analogue of
  * the term dictionary a Lucene reader keeps open per segment and
  * answers with `seekExact` (`Lucene103BlockTreeTermsWriter.java:211`).
  *
  * Terms are stored as their UTF-8 bytes, concatenated in UNSIGNED BYTE
  * order — the order of Spark's string comparisons, so a binary search
  * here selects exactly the rows a `term >= lo` / `startsWith` predicate
  * on the postings table selects (Java's UTF-16 `compareTo` disagrees
  * once a term holds a character outside the Basic Multilingual Plane).
  * Term `i` spans `terms[termEnd(i-1), termEnd(i))`; its blocks span the
  * flat block arrays at `[blockEnd(i-1), blockEnd(i))`, its
  * `numBlocks + 1` payload offsets start at `offsets(blockEnd(i-1) + i)`
  * (term-relative, exactly [[PostingList.offsets]]), and its payload is
  * `payload[payloadEnd(i-1), payloadEnd(i))`. Every term appears once:
  * rows of one term (salted splits, merge output) are concatenated when
  * the image is built. A segment's payload must fit one JVM array (2 GB).
  */
final case class SegmentImage(
    seg: Int,
    terms: Array[Byte],
    termEnds: Array[Int],
    df: Array[Int],
    ttf: Array[Long],
    blockEnds: Array[Int],
    counts: Array[Int],
    baseDocIds: Array[Long],
    maxDocIds: Array[Long],
    maxFreqs: Array[Int],
    minNorms: Array[Byte],
    offsets: Array[Int],
    payloadEnds: Array[Int],
    payload: Array[Byte]
) {
  import SegmentImage._

  def numTerms: Int = termEnds.length

  private def start(ends: Array[Int], i: Int): Int = if (i == 0) 0 else ends(i - 1)

  def termAt(i: Int): String = {
    val s = start(termEnds, i)
    new String(terms, s, termEnds(i) - s, UTF_8)
  }

  /** Unsigned comparison of term `i`'s bytes with `key`. */
  private def compareAt(i: Int, key: Array[Byte]): Int = {
    val s = start(termEnds, i)
    java.util.Arrays.compareUnsigned(terms, s, termEnds(i), key, 0, key.length)
  }

  /** True when term `i`'s bytes start with `prefix`. */
  private def hasPrefix(i: Int, prefix: Array[Byte]): Boolean = {
    val s = start(termEnds, i)
    termEnds(i) - s >= prefix.length &&
      java.util.Arrays.equals(terms, s, s + prefix.length, prefix, 0, prefix.length)
  }

  /** First term index whose bytes are >= `key` (numTerms when none). */
  private def lowerBound(key: Array[Byte]): Int = {
    var lo = 0
    var hi = numTerms
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (compareAt(mid, key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Index of `term`, or -1 when the segment does not hold it. */
  def indexOf(term: String): Int = {
    val key = term.getBytes(UTF_8)
    val i = lowerBound(key)
    if (i < numTerms && compareAt(i, key) == 0) i else -1
  }

  def postingList(i: Int): PostingList = {
    val b0 = start(blockEnds, i)
    val b1 = blockEnds(i)
    val p0 = start(payloadEnds, i)
    PostingList(seg, termAt(i), df(i), ttf(i),
      java.util.Arrays.copyOfRange(counts, b0, b1),
      java.util.Arrays.copyOfRange(baseDocIds, b0, b1),
      java.util.Arrays.copyOfRange(maxDocIds, b0, b1),
      java.util.Arrays.copyOfRange(maxFreqs, b0, b1),
      java.util.Arrays.copyOfRange(minNorms, b0, b1),
      java.util.Arrays.copyOfRange(offsets, b0 + i, b1 + i + 1),
      java.util.Arrays.copyOfRange(payload, p0, payloadEnds(i)))
  }

  def postingLists: Iterator[PostingList] = Iterator.range(0, numTerms).map(postingList)

  /** The posting lists a query reads in this segment: each of `wanted`
    * that the segment holds, plus every term a wide pattern's scan
    * predicate selects — the same rows the filtered postings scan
    * returns for this segment.
    */
  def lookup(wanted: Set[String], wide: Seq[WideTermSetQ]): Map[String, PostingList] = {
    val out = Map.newBuilder[String, PostingList]
    val seen = new java.util.BitSet(numTerms)
    def add(i: Int): Unit = if (!seen.get(i)) {
      seen.set(i)
      out += termAt(i) -> postingList(i)
    }
    wanted.foreach { t =>
      val i = indexOf(t)
      if (i >= 0) add(i)
    }
    wide.foreach(w => scanRange(w).foreach(add))
    out.result()
  }

  /** Term indexes a wide pattern's postings-scan predicate selects:
    * prefix / range / literal-prefixed wildcard walk a byte range found
    * by binary search; a regex (or a wildcard with no literal prefix)
    * tests every term, as the scan's `rlike` does.
    */
  private def scanRange(w: WideTermSetQ): Iterator[Int] = {
    def from(lo: String): Iterator[Int] = Iterator.range(lowerBound(lo.getBytes(UTF_8)), numTerms)
    def prefixed(p: String): Iterator[Int] = {
      val pb = p.getBytes(UTF_8)
      from(p).takeWhile(hasPrefix(_, pb))
    }
    val candidates = w.kind match {
      case "prefix" => prefixed(w.a)
      case "range" =>
        val hi = w.b.getBytes(UTF_8)
        from(w.a).takeWhile(compareAt(_, hi) <= 0)
      case "wildcard" =>
        val re = java.util.regex.Pattern.compile(graft.exec.Searcher.wildcardRegex(w.a))
        val pre = w.a.takeWhile(c => c != '*' && c != '?')
        val range = if (pre.isEmpty) Iterator.range(0, numTerms) else prefixed(pre)
        range.filter(i => re.matcher(termAt(i)).find(0))
      case _ =>
        val re = java.util.regex.Pattern.compile(s"^(?:${w.a})$$")
        Iterator.range(0, numTerms).filter(i => re.matcher(termAt(i)).find(0))
    }
    if (w.a.startsWith(IndexBuilder.FieldPrefix)) candidates
    else candidates.filter { i =>
      val s = start(termEnds, i)
      s == termEnds(i) || (terms(s) != KeywordByte && terms(s) != FieldByte)
    }
  }
}

/** A resident segment as it is cached: the term-dictionary image plus,
  * for an in-memory build, the segment's doc-meta rows (an opened index
  * keeps reading doc meta from its files and leaves `docs` empty).
  */
final case class ResidentSegment(image: SegmentImage, docs: Array[DocMeta])

object SegmentImage {
  private val KeywordByte: Byte = IndexBuilder.KeywordPrefix.charAt(0).toByte
  private val FieldByte: Byte = IndexBuilder.FieldPrefix.charAt(0).toByte

  /** The image column of persisted resident segments (the doc-meta
    * column is not read).
    */
  def images(segs: org.apache.spark.sql.Dataset[ResidentSegment])
      : org.apache.spark.sql.Dataset[SegmentImage] = {
    import segs.sparkSession.implicits._
    segs.select($"image.*").as[SegmentImage]
  }

  /** Image of one segment's posting rows. Rows usually arrive one per
    * term in byte order (the build's emit order, which is byte order
    * for BMP-only terms); otherwise they are sorted by (term bytes,
    * first docId) and the rows of one term are concatenated.
    */
  def of(seg: Int, rows: Iterator[PostingList]): SegmentImage = {
    val rows0 = rows.toArray
    val keys0 = rows0.map(_.term.getBytes(UTF_8))
    val inOrder = (1 until rows0.length).forall(i =>
      java.util.Arrays.compareUnsigned(keys0(i - 1), keys0(i)) < 0)
    val (lists, keys) =
      if (inOrder) (rows0, keys0)
      else {
        val sorted = rows0.indices.sortWith { (a, b) =>
          val c = java.util.Arrays.compareUnsigned(keys0(a), keys0(b))
          c < 0 || (c == 0 && rows0(a).maxDocIds.head < rows0(b).maxDocIds.head)
        }
        val runs = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
        sorted.foreach { i =>
          if (runs.nonEmpty && java.util.Arrays.equals(keys0(runs.last.head), keys0(i)))
            runs(runs.length - 1) = runs.last :+ i
          else runs += Seq(i)
        }
        (runs.map(r => PostingCodec.concat(r.map(rows0(_)))).toArray,
          runs.map(r => keys0(r.head)).toArray)
      }
    val n = lists.length
    val nBlocks = lists.iterator.map(_.numBlocks).sum
    val termEnds = new Array[Int](n)
    val blockEnds = new Array[Int](n)
    val payloadEnds = new Array[Int](n)
    val df = new Array[Int](n)
    val ttf = new Array[Long](n)
    val counts = new Array[Int](nBlocks)
    val baseDocIds = new Array[Long](nBlocks)
    val maxDocIds = new Array[Long](nBlocks)
    val maxFreqs = new Array[Int](nBlocks)
    val minNorms = new Array[Byte](nBlocks)
    val offsets = new Array[Int](nBlocks + n)
    val terms = new Array[Byte](keys.iterator.map(_.length).sum)
    val payload = new Array[Byte](Math.toIntExact(lists.iterator.map(_.payload.length.toLong).sum))
    var t = 0
    var b = 0
    var p = 0
    var i = 0
    while (i < n) {
      val pl = lists(i)
      val key = keys(i)
      val nb = pl.numBlocks
      System.arraycopy(key, 0, terms, t, key.length)
      System.arraycopy(pl.counts, 0, counts, b, nb)
      System.arraycopy(pl.baseDocIds, 0, baseDocIds, b, nb)
      System.arraycopy(pl.maxDocIds, 0, maxDocIds, b, nb)
      System.arraycopy(pl.maxFreqs, 0, maxFreqs, b, nb)
      System.arraycopy(pl.minNorms, 0, minNorms, b, nb)
      System.arraycopy(pl.offsets, 0, offsets, b + i, nb + 1)
      System.arraycopy(pl.payload, 0, payload, p, pl.payload.length)
      t += key.length; b += nb; p += pl.payload.length
      termEnds(i) = t; blockEnds(i) = b; payloadEnds(i) = p
      df(i) = pl.df; ttf(i) = pl.ttf
      i += 1
    }
    SegmentImage(seg, terms, termEnds, df, ttf, blockEnds, counts, baseDocIds,
      maxDocIds, maxFreqs, minNorms, offsets, payloadEnds, payload)
  }

  /** Resident form of one in-memory-built segment: the build rows of
    * [[IndexBuilder.buildSegment]] split into doc meta and the image.
    */
  def resident(seg: Int, rows: Iterator[BuildRow]): ResidentSegment = {
    val docs = Array.newBuilder[DocMeta]
    val posts = rows.flatMap { r =>
      if (r.kind == "m") {
        docs += DocMeta(r.docId, r.repo, r.path, r.commit, r.lang, r.sha256, r.tokenCount, r.norm)
        None
      } else Some(PostingList(r.seg, r.term, r.df, r.ttf, r.counts, r.baseDocIds,
        r.maxDocIds, r.maxFreqs, r.minNorms, r.offsets, r.payload))
    }
    val image = of(seg, posts)
    ResidentSegment(image, docs.result())
  }
}
