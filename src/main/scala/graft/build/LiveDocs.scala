package graft.build

import graft.model.SegmentManifest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-segment deleted-docId view — the liveDocs analogue
  * (`core/codecs/lucene90/Lucene90LiveDocsFormat.java:49`: one bitset
  * file per segment, read SEGMENT-SIDE by each leaf reader, never
  * collected anywhere central).
  *
  * Deletes are resolved when they are WRITTEN (see [[LiveDocs.commit]]):
  * each segment with deletes has one sorted docId sidecar file, named by
  * the delete record of the commit that last changed it. Kernels and
  * merges load ONLY their own segment's sidecar, lazily, executor-side;
  * the driver ships the tiny (seg -> entry) map with the closure — never
  * the ids.
  */
sealed trait LiveDocs extends Serializable {
  /** Sorted deleted docIds of `seg`, or null when the segment has none.
    * May perform a (cached) sidecar read — call executor-side.
    */
  def deleted(seg: Int): Array[Long]
  def isEmpty: Boolean
  def deletedCount: Long
}

case object NoDeletes extends LiveDocs {
  def deleted(seg: Int): Array[Long] = null
  def isEmpty: Boolean = true
  def deletedCount: Long = 0L
}

/** In-memory per-segment map — streaming/test convenience for small,
  * already-local delete sets.
  */
final case class MapLiveDocs(m: Map[Int, Array[Long]]) extends LiveDocs {
  def deleted(seg: Int): Array[Long] = m.getOrElse(seg, null)
  def isEmpty: Boolean = m.isEmpty
  def deletedCount: Long = m.valuesIterator.map(_.length.toLong).sum
}

/** One segment's entry in a delete record (`SegmentCommitInfo`
  * delGen/delCount): sidecar path under `livedocs/`, deleted and total doc
  * counts, and the segment identity the ids were resolved against. It
  * applies only to that exact identity: a resumed rebuild reuses the seg
  * id with new ordinals.
  */
final case class DelEntry(seg: Int, sidecar: String, count: Long, docs: Long,
    dataDir: String, inputFingerprint: String) {
  def appliesTo(m: SegmentManifest): Boolean =
    m.seg == seg && m.dataDir == dataDir && m.inputFingerprint == inputFingerprint
}

/** Sidecar-file-backed view: `entries` maps each segment WITH deletes to
  * its entry (tiny, closure-shipped); the sorted docId arrays live in
  * `ldDir/<entry.sidecar>` and are loaded lazily, once per JVM per
  * sidecar, by whoever calls [[deleted]] (executors).
  */
final class FileLiveDocs(val ldDir: String, val entries: Map[Int, DelEntry]) extends LiveDocs {

  /** Sidecar loads performed through THIS instance (driver instance in
    * tests: must stay 0 — tasks deserialize their own copy, so executor
    * loads never touch it).
    */
  @transient private lazy val loads = new java.util.concurrent.atomic.AtomicInteger(0)
  def loadedSegs: Int = loads.get()

  def deleted(seg: Int): Array[Long] = entries.get(seg) match {
    case None => null
    case Some(e) =>
      // JVM-GLOBAL cache (FileLiveDocs.cache): task closures deserialize
      // their own instance per query, so an instance-level cache would
      // re-read the sidecar once per task per query — the global map
      // keyed by sidecar path gives the once-per-executor-JVM bound
      // (sidecars are write-once, so entries never go stale)
      val key = s"$ldDir/${e.sidecar}"
      val hit = FileLiveDocs.cache.get(key)
      if (hit != null) hit
      else {
        val arr = LiveDocs.readSidecar(key)
        loads.incrementAndGet()
        if (FileLiveDocs.cache.size > 4096) FileLiveDocs.cache.clear()
        FileLiveDocs.cache.putIfAbsent(key, arr)
        arr
      }
  }

  def isEmpty: Boolean = entries.isEmpty
  def deletedCount: Long = entries.valuesIterator.map(_.count).sum
}

object FileLiveDocs {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Array[Long]]()
}

/** Delete generations. Layout under `dir/livedocs/`:
  *  - `del_G.json` — the delete record committed by delete generation G:
  *    one [[DelEntry]] per segment that has deletes. The highest G is the
  *    current record; snapshots pin theirs by number.
  *  - `gen_G/seg_S.longs` — the write-once sidecars delete G wrote: the
  *    union of S's previous sidecar and G's newly deleted ids, sorted.
  *    Segments G did not touch keep pointing at older generations' files.
  */
object LiveDocs {

  /** Sidecar IO goes through the Hadoop FileSystem API (like Spark's own
    * file sinks), so executor-side reads/writes work unchanged whether
    * the index dir is local, HDFS, or an object store — the sandbox uses
    * the default local FS.
    */
  private def fsOf(path: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    path.getFileSystem(new org.apache.hadoop.conf.Configuration())

  private def root(dir: String) = s"$dir/livedocs"
  private def recordPath(dir: String, g: Long) = s"${root(dir)}/del_$g.json"

  private[build] def readSidecar(path: String): Array[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fsOf(p).open(p)))
    try {
      val n = in.readInt()
      val arr = new Array[Long](n)
      var i = 0
      while (i < n) { arr(i) = in.readLong(); i += 1 }
      arr
    } finally in.close()
  }

  private def writeSidecar(path: String, ids: Array[Long], n: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    // ATTEMPT-UNIQUE tmp name: task retries/speculation must never
    // interleave writes into one tmp file. Attempts compute identical
    // content from the same deterministic partition, so whichever
    // complete file wins the final rename is correct.
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString)
    val tmp = new org.apache.hadoop.fs.Path(path + ".tmp-" + attempt)
    val fs = fsOf(p)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fs.create(tmp, true)))
    try {
      out.writeInt(n)
      var i = 0
      while (i < n) { out.writeLong(ids(i)); i += 1 }
    } finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      // a concurrent identical attempt won the rename — accept its file
      fs.delete(tmp, false)
      if (!fs.exists(p)) throw new java.io.IOException(s"rename $tmp -> $p failed")
    }
  }

  /** Committed delete generations (record numbers), ascending. */
  private def recordGens(dir: String): Seq[Long] =
    IndexFs.listNames(root(dir))
      .collect { case n if n.startsWith("del_") && n.endsWith(".json") =>
        n.stripPrefix("del_").stripSuffix(".json").toLong }
      .sorted

  /** The current delete generation, -1 when nothing was ever deleted. */
  def currentGen(dir: String): Long = recordGens(dir).lastOption.getOrElse(-1L)

  private def readRecord(dir: String, g: Long): Seq[DelEntry] =
    if (g < 0) Nil
    else "\\{[^{}]*\\}".r.findAllIn(IndexFs.readString(recordPath(dir, g))).toSeq.map { o =>
      def f(k: String): String = ("\"" + k + "\"\\s*:\\s*\"?([^\",}]*)\"?").r
        .findFirstMatchIn(o).map(_.group(1))
        .getOrElse(sys.error(s"corrupt delete record $g in $dir: no $k"))
      DelEntry(f("seg").toInt, f("sidecar"), f("count").toLong, f("docs").toLong,
        f("dataDir"), f("inputFingerprint"))
    }

  /** Record `g`'s entries that apply to `manifests` (one small file read). */
  def view(dir: String, g: Long, manifests: Seq[SegmentManifest]): LiveDocs = {
    val applying = readRecord(dir, g).filter(e => manifests.exists(e.appliesTo))
    if (applying.isEmpty) NoDeletes
    else new FileLiveDocs(root(dir), applying.map(e => e.seg -> e).toMap)
  }

  /** Executor-side live filter over rows carrying a `docId` column. */
  def liveRows(live: LiveDocs): Column = {
    val isLive = udf { (id: Long) =>
      val arr = live.deleted(IndexBuilder.segOf(id))
      arr == null || java.util.Arrays.binarySearch(arr, id) < 0
    }
    isLive(col("docId"))
  }

  /** Commit one delete generation G (the writer applying deletes into
    * per-segment `.liv` files). `ids` are live docIds under view `cur` of
    * `manifests`. One distributed job groups them by segment and merges
    * each group with its segment's current sidecar into a new sorted
    * sidecar under `gen_G/`; the driver gets one (seg, count) row per
    * touched segment and commits `del_G.json` last. Still-applying entries
    * of untouched segments carry over. Nothing matched -> no record.
    * Returns the number of newly deleted docs.
    */
  private[build] def commit(spark: SparkSession, dir: String, manifests: Seq[SegmentManifest],
      cur: LiveDocs, ids: DataFrame): Long = {
    import spark.implicits._
    val prev: Map[Int, DelEntry] = cur match {
      case f: FileLiveDocs => f.entries
      case _ => Map.empty
    }
    // write-once: above every record AND every sidecar dir (an aborted
    // commit may have left sidecars without a record)
    val g = (currentGen(dir) +: IndexFs.listNames(root(dir)).collect {
      case n if n.startsWith("gen_") => n.stripPrefix("gen_").toLong }).max + 1
    val ldRoot = root(dir)
    val prevFiles = prev.map { case (s, e) => s -> s"$ldRoot/${e.sidecar}" }
    val counts: Map[Int, Long] = ids
      .select($"docId", shiftright($"docId", IndexBuilder.SegShift).cast("int").as("seg"))
      .as[(Long, Int)]
      .groupByKey(_._2)
      .mapGroups { (seg, rows) =>
        // one segment at a time: its previous sidecar + its new ids,
        // sorted and de-duplicated
        val all = prevFiles.get(seg).map(readSidecar).getOrElse(Array.emptyLongArray) ++ rows.map(_._1)
        java.util.Arrays.sort(all)
        var m = 0
        all.foreach { v => if (m == 0 || all(m - 1) != v) { all(m) = v; m += 1 } }
        writeSidecar(s"$ldRoot/gen_$g/seg_$seg.longs", all, m)
        (seg, m.toLong)
      }
      .collect().toMap
    if (counts.isEmpty) return 0L
    val bySeg = manifests.map(m => m.seg -> m).toMap
    val entries = prev ++ counts.map { case (s, c) =>
      val m = bySeg(s)
      s -> DelEntry(s, s"gen_$g/seg_$s.longs", c, m.docs, m.dataDir, m.inputFingerprint)
    }
    val json = entries.values.toSeq.sortBy(_.seg).map(e =>
      s"""{"seg":${e.seg},"sidecar":"${e.sidecar}","count":${e.count},"docs":${e.docs},""" +
        s""""dataDir":"${e.dataDir}","inputFingerprint":"${e.inputFingerprint}"}""")
    IndexFs.writeString(recordPath(dir, g), json.mkString(s"""{"gen":$g,"entries":[""", ",", "]}"))
    gc(dir)
    counts.map { case (s, c) => c - prev.get(s).map(_.count).getOrElse(0L) }.sum
  }

  /** Reader lease: [[gc]] deletes a sidecar only once it has been
    * unreferenced for this long, so a reader (whose kernels load sidecars
    * lazily, executor-side) keeps its point-in-time delete view across a
    * concurrent delete or merge for at least the lease period — the role
    * the reference's `IndexDeletionPolicy` plays for liveDocs files still
    * referenced by an open commit (`core/index/IndexDeletionPolicy.java:38`).
    * Readers that outlive the lease must re-open (fail-fast
    * FileNotFoundException, never a silent wrong answer). Tunable via
    * `-Dgraft.livedocs.gcGraceMs`; tests use 0 for immediate compaction.
    */
  def gcGraceMs: Long =
    sys.props.get("graft.livedocs.gcGraceMs").map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Drop delete state nothing applies any more. A sidecar is kept while an
    * APPLYING entry references it, in the current record (live segments)
    * or a retained snapshot's record (that snapshot's segments). Any other
    * sidecar gets a `.deref` marker on first sight and is deleted once the
    * marker is older than `graceMs` (mark-then-purge, like segment
    * generations); superseded records go once their successor is. Runs
    * after every delete commit and every merge.
    */
  def gc(dir: String, graceMs: Long = gcGraceMs): Unit = {
    val ld = IndexFs.list(root(dir))
    if (ld.isEmpty) return
    val now = System.currentTimeMillis()
    val cutoff = now - graceMs
    val gens = recordGens(dir)
    val cur = gens.lastOption.getOrElse(-1L)
    val pinned = IndexBuilder.listSnapshots(dir).map(id =>
      IndexBuilder.snapshotDelGen(dir, id) -> IndexBuilder.listManifests(IndexBuilder.commitRoot(dir, id)))
    val keep: Set[String] = ((cur -> IndexBuilder.listManifests(dir)) +: pinned).flatMap { case (g, ms) =>
      readRecord(dir, g).filter(e => ms.exists(e.appliesTo)).map(_.sidecar)
    }.toSet
    val mtime = ld.map(st => st.getPath.getName -> st.getModificationTime).toMap
    gens.zip(gens.drop(1)).foreach { case (g, next) =>
      if (!pinned.exists(_._1 == g) && mtime(s"del_$next.json") <= cutoff)
        IndexFs.delete(recordPath(dir, g))
    }
    ld.map(_.getPath.getName).filter(_.startsWith("gen_")).foreach { gd =>
      val gdir = s"${root(dir)}/$gd"
      val files = IndexFs.list(gdir).map(st => st.getPath.getName -> st.getModificationTime).toMap
      val left = files.keys.filter(_.endsWith(".longs")).filterNot { n =>
        !keep(s"$gd/$n") && {
          val mk = n.stripSuffix(".longs") + ".deref"
          val markedAt = files.getOrElse(mk, { IndexFs.writeString(s"$gdir/$mk", now.toString); now })
          markedAt <= cutoff && { IndexFs.delete(s"$gdir/$n"); IndexFs.delete(s"$gdir/$mk"); true }
        }
      }
      if (left.isEmpty) IndexFs.delete(gdir, recursive = true)
    }
  }

  /** CheckIndex over one applying entry: its sidecar exists and holds
    * exactly `count` ids, strictly ascending, inside the segment's ordinal
    * range. Reads the file itself, never the reader cache.
    */
  private[build] def checkSidecar(ldDir: String, e: DelEntry): Seq[String] = {
    val at = s"seg=${e.seg} sidecar=${e.sidecar}"
    val p = new org.apache.hadoop.fs.Path(s"$ldDir/${e.sidecar}")
    scala.util.Try((fsOf(p).getFileStatus(p).getLen, readSidecar(p.toString))) match {
      case scala.util.Failure(ex) => Seq(s"$at: unreadable sidecar: $ex")
      case scala.util.Success((len, ids)) =>
        val lo = e.seg.toLong << IndexBuilder.SegShift
        Seq(
          (ids.length != e.count || len != 4L + 8L * e.count) ->
            s"$at: ${ids.length} ids in $len bytes, record says ${e.count}",
          ids.indices.drop(1).exists(i => ids(i) <= ids(i - 1)) -> s"$at: ids not strictly ascending",
          ids.exists(id => id < lo || id >= lo + e.docs) ->
            s"$at: id outside the segment's ${e.docs} ordinals")
          .collect { case (true, msg) => msg }
    }
  }
}
