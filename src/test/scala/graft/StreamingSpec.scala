package graft

import graft.build.{Datagen, IndexBuilder}
import graft.exec.Searcher
import graft.streaming.StreamingIndexer

/** NRT-style incremental build: micro-batches append immutable segments;
  * re-opening the index sees them (SearcherManager-refresh analogue).
  */
class StreamingSpec extends SparkTest {
  import spark.implicits._

  test("availableNow batches append segments; new docs become searchable") {
    val in = java.nio.file.Files.createTempDirectory("graftstream-in").toString
    val idx = java.nio.file.Files.createTempDirectory("graftstream-idx").toString

    // batch 1 (every doc carries oldneedle — replaced by the update below)
    Datagen.corpus(spark, 300, seed = 31L)
      .map(r => r.copy(content = r.content + " oldneedle"))
      .write.mode("append").parquet(in)
    StreamingIndexer.runAvailableNow(spark, in, idx, segsPerBatch = 2)
    val i1 = IndexBuilder.open(spark, idx)
    assert(i1.fieldStats.docCount == 300)
    val hits1 = Searcher.topK(i1, "def", 10).count()
    assert(hits1 == 10)

    // batch 2: new files only (checkpoint must skip batch-1 files)
    Datagen.corpus(spark, 200, seed = 32L)
      .map(r => r.copy(path = "b2/" + r.path, content = r.content + " streamneedle"))
      .write.mode("append").parquet(in)
    StreamingIndexer.runAvailableNow(spark, in, idx, segsPerBatch = 2)
    val i2 = IndexBuilder.open(spark, idx)
    assert(i2.fieldStats.docCount == 500)
    val needleHits = Searcher.topK(i2, "streamneedle", 1000).count()
    assert(needleHits == 200, s"expected 200 streamneedle docs, got $needleHits")

    // old docs still there, no duplicates
    assert(i2.docmeta.count() == 500)
    assert(i2.docmeta.select($"docId").distinct().count() == 500)

    // batch 3: UPDATE — re-ingest the batch-1 keys with a new commit and
    // changed content; old versions must become invisible
    // (updateDocument = delete-by-term + add, IndexWriter.java:1844)
    Datagen.corpus(spark, 300, seed = 31L)
      .map(r => r.copy(commit = ("u" + r.commit).take(40),
        content = r.content + " updneedle"))
      .write.mode("append").parquet(in)
    StreamingIndexer.runAvailableNow(spark, in, idx, segsPerBatch = 2, update = true)
    val i3 = IndexBuilder.open(spark, idx)
    // live view: 200 (batch 2) + 300 (updated versions)
    assert(i3.docmeta.count() == 500)
    assert(i3.live.deletedCount == 300)
    assert(Searcher.count(i3, "updneedle") == 300)
    assert(Searcher.count(i3, "oldneedle") == 0, "old versions must be invisible")
    assert(Searcher.topK(i3, "oldneedle", 10).count() == 0)
    assert(Searcher.count(i3, "streamneedle") == 200)
    assert(graft.build.CheckIndex.run(i3).isEmpty)
  }

  test("an update reverting a key to an older commit keeps it live") {
    val in = java.nio.file.Files.createTempDirectory("graftrevert-in").toString
    val idx = java.nio.file.Files.createTempDirectory("graftrevert-idx").toString
    // three rounds for one key: c1, then c2, then c1 again — each round's
    // delete applies to the versions that existed when it committed, so
    // round 2's delete of (r, a.scala, c1) must not hide round 3's re-add
    Seq("c1", "c2", "c1").foreach { c =>
      Seq(graft.model.SourceRow("r", "a.scala", c, "scala", s"object A revneedle $c"))
        .toDS().write.mode("append").parquet(in)
      StreamingIndexer.runAvailableNow(spark, in, idx, segsPerBatch = 1, update = true)
    }
    val i = IndexBuilder.open(spark, idx)
    val live = i.docmeta.select($"docId", $"commit").as[(Long, String)].collect().toSeq
    assert(live.map(_._2) == Seq("c1"), s"live versions: $live")
    assert(Searcher.topK(i, "revneedle", 10).as[(Long, Float)].collect().map(_._1).toSeq ==
      live.map(_._1))
  }
}
