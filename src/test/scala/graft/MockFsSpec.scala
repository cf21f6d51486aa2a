package graft

import graft.build.{CheckIndex, Datagen, IndexBuilder, IndexMerger, LiveDocs}
import graft.exec.Searcher
import org.apache.spark.sql.functions._

/** Storage portability: every index IO path (manifests, generations,
  * stats, delete records, livedocs sidecars, streaming meta) must go through
  * the Hadoop FileSystem API, never `java.io.File` — on an HDFS or
  * object-store index dir a `java.io.File` listing silently reports
  * "missing", which would make deletes no-op (deleted docs resurrect)
  * and resumable builds restart from scratch. The [[graft.testfs.MockFs]]
  * scheme makes that failure mode visible on the local disk.
  */
class MockFsSpec extends SparkTest {
  import spark.implicits._

  private def mockDir(name: String): String =
    "mockfs:" + java.nio.file.Files.createTempDirectory(name).toString + "/idx"

  test("build, resume, delete, merge against a non-file: scheme index dir") {
    val dir = mockDir("graftmockfs")
    val src = Datagen.corpus(spark, 400, seed = 31L)
    val manifests = IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 8), dir)
    assert(manifests.length == 8)
    assert(graft.build.IndexFs.listNames(s"$dir/manifest").count(_.endsWith(".json")) == 8)

    val idx0 = IndexBuilder.open(spark, dir)
    assert(CheckIndex.run(idx0).isEmpty)
    val nVictims = Searcher.count(idx0, "needle_0")
    assert(nVictims > 0)

    // resume must SKIP all complete segments: no new generation appears
    // (nextGen + manifest reads both go through the mockfs listing)
    val gensBefore = graft.build.IndexFs.listNames(s"$dir/segments").sorted
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(src, 8), dir)
    assert(graft.build.IndexFs.listNames(s"$dir/segments").sorted == gensBefore,
      "resume re-ran complete segments on a non-file: scheme")

    // deletes: delete-record discovery + sidecar writes on mockfs
    val victims = Searcher.matchingDocs(idx0, graft.query.TermQ("needle_0")).toDF("docId")
      .join(idx0.docmeta, "docId").select($"repo", $"path", $"commit")
    IndexBuilder.deleteDocs(spark, dir, victims)
    val idx1 = IndexBuilder.open(spark, dir)
    assert(idx1.live.deletedCount == nVictims,
      "deletes invisible on a non-file: scheme (java.io.File fallback?)")
    assert(Searcher.count(idx1, "needle_0") == 0, "deleted docs resurrected")
    assert(idx1.docmeta.count() == 400 - nVictims)

    // merge compacts on mockfs: old manifests deleted, deletes purged
    IndexMerger.tieredMerge(spark, dir, segsPerTier = 4)
    val idx2 = IndexBuilder.open(spark, dir)
    assert(idx2.live.isEmpty, "merge must purge deleted docs")
    assert(Searcher.count(idx2, "needle_0") == 0)
    assert(idx2.docmeta.count() == 400 - nVictims)
    assert(CheckIndex.run(idx2).isEmpty)
  }

  test("streaming maintenance (exactly-once + update) against a non-file: scheme index dir") {
    val local = java.nio.file.Files.createTempDirectory("graftmockstream").toString
    val inputDir = s"$local/in"
    val dir = "mockfs:" + local + "/idx"
    val batch1 = Datagen.corpus(spark, 120, seed = 52L)
    batch1.write.mode("append").parquet(inputDir)
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir, segsPerBatch = 2)
    val idx0 = IndexBuilder.open(spark, dir)
    assert(idx0.docmeta.count() == 120)

    // second run with no new files is a no-op (stream_meta + manifest
    // listings on mockfs); then an update batch re-versions 120 docs
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir, segsPerBatch = 2)
    assert(IndexBuilder.open(spark, dir).docmeta.count() == 120)

    val batch2 = batch1.withColumn("commit", concat($"commit", lit("_v2")))
    batch2.write.mode("append").parquet(inputDir)
    graft.streaming.StreamingIndexer.runAvailableNow(spark, inputDir, dir,
      segsPerBatch = 2, update = true)
    val idx1 = IndexBuilder.open(spark, dir)
    assert(idx1.docmeta.count() == 120, "update must delete every stale version")
    assert(idx1.docmeta.filter(!$"commit".endsWith("_v2")).count() == 0)
  }

  test("livedocs gc is grace-windowed over delete generations") {
    val local = java.nio.file.Files.createTempDirectory("graftgc").toString
    val dir = "mockfs:" + local + "/idx"
    IndexBuilder.buildPersistent(spark, Datagen.toInputDocs(Datagen.corpus(spark, 200, seed = 33L), 2), dir)
    def delete(mod: Int): Long = IndexBuilder.deleteDocs(spark, dir,
      IndexBuilder.open(spark, dir).docmeta.filter($"docId" % 5 === mod)
        .select($"repo", $"path", $"commit"))
    def files(g: Int) = graft.build.IndexFs.listNames(s"$dir/livedocs/gen_$g").toSet
    val n0 = delete(0)
    // generation 1 supersedes both of generation 0's sidecars; the
    // commit-time gc only marks them (default grace = 15 min)
    val n1 = delete(1)
    assert(n0 > 0 && n1 > 0)
    assert(files(0) == Set("seg_0.longs", "seg_1.longs", "seg_0.deref", "seg_1.deref"), files(0))
    assert(files(1) == Set("seg_0.longs", "seg_1.longs"), files(1))
    // a sidecar dereferenced longer ago than the lease goes; a fresh one stays
    val stale = new java.io.File(s"$local/idx/livedocs/gen_0/seg_0.deref")
    assert(stale.setLastModified(System.currentTimeMillis() - 60L * 60 * 1000))
    LiveDocs.gc(dir)
    assert(files(0) == Set("seg_1.longs", "seg_1.deref"), files(0))
    // grace 0 drops every unreferenced sidecar and the superseded record;
    // the current generation's sidecars (still applying) survive
    LiveDocs.gc(dir, graceMs = 0)
    assert(files(0).isEmpty && files(1) == Set("seg_0.longs", "seg_1.longs"))
    assert(graft.build.IndexFs.listNames(s"$dir/livedocs").filter(_.startsWith("del_")) ==
      Seq("del_1.json"))
    val idx = IndexBuilder.open(spark, dir)
    assert(idx.live.deletedCount == n0 + n1 && idx.docmeta.count() == 200 - n0 - n1)
  }

  test("writeString atomically replaces an existing file on file: and mockfs: schemes") {
    val base = java.nio.file.Files.createTempDirectory("graftws").toString
    // file: takes the FileContext rename(OVERWRITE) path; mockfs: has no
    // AbstractFileSystem binding and exercises the fallback
    for (scheme <- Seq("file:", "mockfs:")) {
      val p = s"$scheme$base/${scheme.stripSuffix(":")}/manifest.json"
      graft.build.IndexFs.writeString(p, "{\"gen\":1}")
      graft.build.IndexFs.writeString(p, "{\"gen\":2}")
      assert(graft.build.IndexFs.readString(p) == "{\"gen\":2}",
        s"overwrite lost on $scheme")
      // no tmp residue left behind
      val parent = p.substring(0, p.lastIndexOf('/'))
      assert(!graft.build.IndexFs.listNames(parent).exists(_.contains(".tmp-")),
        graft.build.IndexFs.listNames(parent).toString)
    }
  }

  test("writeString succeeds when a post-rename crc sidecar delete throws") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.crcfailfs.impl", classOf[graft.testfs.CrcFailFs].getName)
    conf.set("fs.AbstractFileSystem.crcfailfs.impl", classOf[graft.testfs.CrcFailAfs].getName)
    val base = java.nio.file.Files.createTempDirectory("graftcrcfail").toString
    val p = s"crcfailfs:$base/manifest.json"
    // first write renames onto a fresh path, the second over the first;
    // both renames commit, then both sidecar deletes throw
    graft.build.IndexFs.writeString(p, "{\"gen\":1}")
    graft.build.IndexFs.writeString(p, "{\"gen\":2}")
    assert(graft.build.IndexFs.readString(p) == "{\"gen\":2}")
    assert(!graft.build.IndexFs.listNames(base).exists(_.contains(".tmp-")))
  }
}
