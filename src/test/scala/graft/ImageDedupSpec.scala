package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal}

/** Round-15: perceptual image dedup — the dHash kernel's exact
  * arithmetic (oracle-gated end-to-end in q218), the Hamming-banded
  * pair operator's semantics (pigeonhole exactness, verify filter),
  * and the no-all-pairs plan shape. */
class ImageDedupSpec extends AnyFunSuite {
  lazy val spark = Sessions.local(4)

  private def media(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toSeq.map { case (id, b) =>
      Multimodal.MediaRecord(id, "image", b) }.toDF()
  }

  test("dHash: byte-identical re-encodes hash identically; a top-row tint moves bits ONLY in band b0") {
    val w = 16; val h = 12
    val df = media(
      1L -> Multimodal.pngNoiseBytes(w, h, "k1"),
      2L -> Multimodal.pngNoiseBytes(w, h, "k1"),
      3L -> Multimodal.pngNoiseBytes(w, h, "k1", tintTopRow = true),
      4L -> Multimodal.pngNoiseBytes(w, h, "k2"))
    val got = Multimodal.imageDHash(spark, df)
      .collect().map(r => r.media_id -> r).toMap
    assert(got.values.forall(_.codec == "image"))
    val (a, b, t, u) = (got(1L), got(2L), got(3L), got(4L))
    assert((a.b0, a.b1, a.b2, a.b3) == (b.b0, b.b1, b.b2, b.b3),
      "re-encode of identical pixels must hash identically")
    // the tint perturbs source row 0 only; rows 1..7 sample sy >= 1,
    // so bands b1-b3 (bit indices 16..63 = hash rows 2..7) are
    // untouched and b0 may move
    assert((t.b1, t.b2, t.b3) == (a.b1, a.b2, a.b3),
      s"tint must not reach bands b1-b3: $t vs $a")
    assert(got(4L) != got(1L) || u.b0 != a.b0 || u.b1 != a.b1,
      "unrelated noise content should not collide on this fixture")
  }

  test("dHash: non-decodable payloads take the deterministic stub") {
    val df = media(9L -> "not a png".getBytes("UTF-8"))
    val r = Multimodal.imageDHash(spark, df).collect().head
    val n = "not a png".getBytes("UTF-8").length.toLong
    assert(r.codec == "stub")
    assert(Seq(r.b0.toLong, r.b1.toLong, r.b2.toLong, r.b3.toLong) ==
      Seq(n % 65536, n * 2 % 65536, n * 3 % 65536, n * 4 % 65536))
  }

  test("hammingNearDupPairs: pigeonhole exactness under maxDist < bands; verify filters past it") {
    import spark.implicits._
    // 3 bit flips spread over 3 bands: must still pair at maxDist=3
    // (the 4th band matches). 5 flips over ALL 4 bands: no band
    // matches -> not even a candidate (the LSH recall trade).
    val hashes = Seq(
      (1L, 0x1111, 0x2222, 0x3333, 0x4444),
      (2L, 0x1110, 0x2223, 0x3333, 0x4444), // dists 1,1,0,0 = 2
      (3L, 0x1111 ^ 3, 0x2222 ^ 4, 0x3333 ^ 1, 0x4444 ^ 1), // 5 flips, all bands (and no band equal to row 1 or 2)
      (4L, 0x1111, 0x2222, 0x3333, 0x0fff)  // band match but dist 11 > max
    ).toDF("id", "b0", "b1", "b2", "b3")
    val got = Dedup.hammingNearDupPairs(hashes, "id",
        Seq("b0", "b1", "b2", "b3"), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 2L, 2L)),
      s"expected only (1,2,dist=2): got $got")
  }

  test("hamming store: erased history content is ADMITTED again; history side joins broadcast-batch, never shuffled pairs") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_hs").toString
    val bands = Seq("b0", "b1", "b2", "b3")
    val hist = Seq(
      (10L, 1, 2, 3, 4), (20L, 5, 6, 7, 8), (30L, 9, 10, 11, 12))
      .toDF("media_id", "b0", "b1", "b2", "b3")
    Dedup.writeHammingStore(hist, "media_id", bands, root, batchId = 1L)
    val batch = Seq(
      (101L, 1, 2, 3, 4),   // dup of 10
      (102L, 5, 6, 7, 8),   // dup of 20 (to be erased)
      (103L, 50, 60, 70, 80)) // unique
      .toDF("media_id", "b0", "b1", "b2", "b3")
    def verdicts() = Dedup.incrementalHammingDedup(spark, root, batch,
      "media_id", bands, maxDist = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
    val before = verdicts()
    assert(before(101L) == (1L, Some(0L)) && before(102L) == (1L, Some(0L))
      && before(103L) == (0L, None))
    Dedup.deleteFromHammingStore(Seq(20L).toDF("media_id"), "media_id",
      root, batchId = 2L)
    val masked = verdicts()
    assert(masked(102L) == (0L, None),
      s"erased content must be admitted again: $masked")
    assert(Dedup.purgeHammingStore(spark, root, "media_id", 3L) >= 1)
    assert(verdicts() == masked, "compaction must not change verdicts")
    // history is never shuffled against itself: the store side meets
    // only the BROADCAST batch band keys
    val p = Dedup.incrementalHammingDedup(spark, root, batch,
      "media_id", bands, maxDist = 3).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"batch side must broadcast:\n$p")
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(new org.apache.hadoop.fs.Path(root), true)
  }

  test("near-dup pair plan: candidates come from the band equi-join — never all pairs") {
    import spark.implicits._
    val hashes = (0L until 50L)
      .map(i => (i, (i % 7).toInt, (i % 11).toInt, (i % 13).toInt, (i % 5).toInt))
      .toDF("id", "b0", "b1", "b2", "b3")
    val p = Dedup.hammingNearDupPairs(hashes, "id",
      Seq("b0", "b1", "b2", "b3"), maxDist = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"band equi-join expected:\n$p")
  }
}
