package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Checkpoints, Dedup, Multimodal}

/** q218–q219: the dedup suite's IMAGE modality — perceptual
  * difference-hash over REALLY decoded pixels ([[Multimodal
  * .imageDHash]]: probe → budget → `ImageIO` → integer luma → exact
  * 9×8 NN sample → 64 gradient bits as four 16-bit bands) and
  * Hamming-banded near-dup pairs ([[Dedup.hammingNearDupPairs]] —
  * the q30/q31 LSH discipline in Hamming space).
  *
  * The fixture is [[Multimodal.pngNoiseBytes]] — md5-noise pixels
  * (JDK-encoded, losslessly decoded, SQL-replayable), HIGH-entropy on
  * purpose: hashes collide only where content is PLANTED to match, so
  * the near-dup relation stays corpus-LINEAR (the regime LSH dedup
  * exists for; a low-entropy fixture would make the true pair set
  * quadratic and no candidate scheme could beat that). Per document
  * TWO renditions: the base image and either a byte-level re-encode
  * (dist 0), a top-row-tinted "watermarked" copy (bits move only in
  * the hash row sampled from source row 0, so bands b1–b3 still
  * match), an unrelated image (no pair), or — every 7th id — a
  * non-decodable payload that must take the deterministic stub path.
  */
object ImageQueries {

  /** Per-doc two-rendition media fixture: `media_id = 2·doc_id` is
    * the base noise image, `2·doc_id + 1` its second rendition (stub
    * / exact dup / tinted / unrelated by id class). Sizes 12–24 ×
    * 8–16 keep the decode budget trivial while varying the NN sample
    * map. */
  private def renditions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Parallelism.spread(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      .as[Long].flatMap { id => // §2.5 floor: the PNG encode is the cost
      val w = (12 + id % 4 * 4).toInt
      val h = (8 + id % 3 * 4).toInt
      val base = Multimodal.MediaRecord(2 * id, "image",
        Multimodal.pngNoiseBytes(w, h, key = s"img:$id"))
      val second =
        if (id % 7 == 0)
          Multimodal.MediaRecord(2 * id + 1, "image",
            s"img-$id".getBytes("UTF-8"))
        else if (id % 3 == 0)
          Multimodal.MediaRecord(2 * id + 1, "image",
            Multimodal.pngNoiseBytes(w, h, key = s"img:$id"))
        else if (id % 3 == 1)
          Multimodal.MediaRecord(2 * id + 1, "image",
            Multimodal.pngNoiseBytes(w, h, key = s"img:$id",
              tintTopRow = true))
        else
          Multimodal.MediaRecord(2 * id + 1, "image",
            Multimodal.pngNoiseBytes(w, h, key = s"alt:$id"))
      Seq(base, second)
    }.toDF()
  }

  /** The dHash oracle chain given an `imgs(mid, w, h, key, tint,
    * decodable, …)` CTE: CTEs `px → ch → g → bits → bands(mid,
    * b0, b1, b2, b3)` — the replay of [[Multimodal.imageDHash]] on
    * the md5-noise pixels: exact NN sample map, per-pixel md5
    * channels (tint on source row 0 where planted), integer luma,
    * horizontal gradient bits, little-endian 16-bit bands. */
  private val dHashChain =
    """px AS (SELECT mid, key, tint, (x*w)//9 AS sx, (y*h)//8 AS sy, x, y
      |  FROM imgs, unnest(range(0, 9)) t1(x), unnest(range(0, 8)) t2(y)
      |  WHERE decodable),
      |ch AS (SELECT mid, x, y, sy, tint,
      |    CAST('0x' || substr(md5(key || ':' || sx || ':' || sy), 1, 2) AS INTEGER) AS r0,
      |    CAST('0x' || substr(md5(key || ':' || sx || ':' || sy), 3, 2) AS INTEGER) AS gc,
      |    CAST('0x' || substr(md5(key || ':' || sx || ':' || sy), 5, 2) AS INTEGER) AS bc
      |  FROM px),
      |g AS (SELECT mid, x, y,
      |    (299*(CASE WHEN tint AND sy = 0 THEN (r0 + 40) % 256 ELSE r0 END)
      |     + 587*gc + 114*bc) // 1000 AS gray
      |  FROM ch),
      |bits AS (SELECT a.mid, a.y*8 + a.x AS i,
      |    CASE WHEN a.gray < b.gray THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b ON a.mid = b.mid AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |bands AS (SELECT mid,
      |    CAST(SUM(CASE WHEN i//16 = 0 THEN bit * (1 << (i%16)) ELSE 0 END) AS INTEGER) AS b0,
      |    CAST(SUM(CASE WHEN i//16 = 1 THEN bit * (1 << (i%16)) ELSE 0 END) AS INTEGER) AS b1,
      |    CAST(SUM(CASE WHEN i//16 = 2 THEN bit * (1 << (i%16)) ELSE 0 END) AS INTEGER) AS b2,
      |    CAST(SUM(CASE WHEN i//16 = 3 THEN bit * (1 << (i%16)) ELSE 0 END) AS INTEGER) AS b3
      |  FROM bits GROUP BY mid)""".stripMargin

  /** The q218/q219 rendition fixture as CTEs `ids → imgs → …bands`
    * plus the non-decodable `stubs(mid, n)`. */
  private val dHashCtes =
    """ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |imgs AS (
      |  SELECT 2*id AS mid, 12 + (id%4)*4 AS w, 8 + (id%3)*4 AS h,
      |         'img:' || id AS key, FALSE AS tint, TRUE AS decodable, id
      |  FROM ids
      |  UNION ALL
      |  SELECT 2*id+1, 12 + (id%4)*4, 8 + (id%3)*4,
      |         CASE WHEN id%3 = 2 THEN 'alt:' || id ELSE 'img:' || id END,
      |         id%7 <> 0 AND id%3 = 1, id%7 <> 0, id
      |  FROM ids),
      |""".stripMargin + dHashChain + """,
      |stubs AS (SELECT mid,
      |    CAST(octet_length(encode('img-' || CAST(id AS VARCHAR))) AS BIGINT) AS n
      |  FROM imgs WHERE NOT decodable)""".stripMargin

  // ---------------------------------------------------------------
  // q218 — PERCEPTUAL HASH SURFACE: dHash every rendition (real
  // decode through the JDK PNG reader; the non-decodable every-7th
  // second rendition must take the deterministic stub). The oracle
  // recomputes all 64 gradient bits per image from the per-pixel md5
  // channels — a luma rounding drift, an off-by-one in the NN sample
  // map, or a band packed big-endian all break the hash.
  private def q218(s: SparkSession, dir: String): DataFrame = {
    // r19: pin the hash rows BEFORE the global sort — orderBy's
    // range-partitioner runs a SAMPLING pass over its input first, so
    // the unpinned chain paid the whole fixture (10k JDK PNG encodes)
    // + decode + hash TWICE; the pinned rows are 5 ints/doc (guide
    // §5 — recomputing is the expensive side here, unlike q199's
    // chunk-text trade)
    val hashes = Multimodal.imageDHash(s, renditions(s, dir))
      .toDF().transform(Checkpoints.pin)
    hashes.orderBy(col("media_id")).transform(Checkpoints.pin)
  }
  private val q218Sql =
    s"""WITH $dHashCtes
      |SELECT mid AS media_id, 'image' AS codec, b0, b1, b2, b3 FROM bands
      |UNION ALL
      |SELECT mid, 'stub',
      |  CAST(n % 65536 AS INTEGER), CAST(n*2 % 65536 AS INTEGER),
      |  CAST(n*3 % 65536 AS INTEGER), CAST(n*4 % 65536 AS INTEGER)
      |FROM stubs
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------
  // q219 — PERCEPTUAL NEAR-DUP PAIRS: Hamming-banded candidates over
  // the decodable renditions' bands (never all pairs — the q30
  // banding discipline, PlanSpec-pinned), exact bit_count(XOR)
  // verify at maxDist = 8. The planted re-encodes must surface at
  // dist 0 and the tinted copies via their three untouched bands
  // (the tint moves only row-0 bits — all in band b0); unrelated
  // renditions pair only where their replayed hashes actually agree
  // — the oracle recomputes candidates AND verification from the
  // same band values, so recall is exact BY CONSTRUCTION in both
  // engines even past the pigeonhole radius.
  private def q219(s: SparkSession, dir: String): DataFrame = {
    val hashes = Multimodal.imageDHash(s, renditions(s, dir))
      .filter(col("codec") === "image").toDF()
      .transform(Checkpoints.pin) // feeds band explode AND both verify sides
    Dedup.hammingNearDupPairs(hashes, "media_id",
        Seq("b0", "b1", "b2", "b3"), maxDist = 8)
      .orderBy(col("id_a"), col("id_b"))
      .transform(Checkpoints.pin)
  }
  private val q219Sql =
    s"""WITH $dHashCtes,
      |kb AS (SELECT mid, 0 AS band, b0 AS key FROM bands
      |  UNION ALL SELECT mid, 1, b1 FROM bands
      |  UNION ALL SELECT mid, 2, b2 FROM bands
      |  UNION ALL SELECT mid, 3, b3 FROM bands),
      |cand AS (SELECT DISTINCT a.mid AS id_a, b.mid AS id_b
      |  FROM kb a JOIN kb b
      |  ON a.band = b.band AND a.key = b.key AND a.mid < b.mid),
      |verified AS (SELECT id_a, id_b,
      |    CAST(bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
      |       + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
      |      AS BIGINT) AS dist
      |  FROM cand
      |  JOIN bands ha ON cand.id_a = ha.mid
      |  JOIN bands hb ON cand.id_b = hb.mid)
      |SELECT id_a, id_b, dist FROM verified
      |WHERE dist <= 8 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------
  // q222 — THE HAMMING SIGNATURE STORE LIFECYCLE ([[Dedup
  // .writeHammingStore]] / [[Dedup.incrementalHammingDedup]] /
  // [[Dedup.deleteFromHammingStore]] / [[Dedup.purgeHammingStore]]):
  // the q132/q188 incremental-dedup store discipline on the IMAGE
  // modality — history images append their dHash bands in two
  // batches, a takedown slice is erased (tombstones by media id; its
  // content must be ADMITTED again — the store no longer remembers
  // it), and a new day's batch gets near-dup verdicts against the
  // masked store (band keys explode map-side from the store scan and
  // stream against the BROADCAST batch side — history is never
  // shuffled), then the store compacts and serves again — identical
  // in-plan. The batch plants all three cases per odd id b: an exact
  // content dup of history image b−1 (dist 0 — unless b−1 was
  // erased), a top-row-tinted copy of b−1 (bands b1–b3 still match),
  // and unique content (no pair). Oracle: the dHash chain over
  // remaining history + batch, banding, and the per-batch-id
  // (count, min dist) replayed exactly.
  private def q222(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val D = Dedup
    def wOf(id: Long) = (12 + id % 4 * 4).toInt
    def hOf(id: Long) = (8 + id % 3 * 4).toInt
    val ids = graft.operators.Parallelism.spread(
      Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      .as[Long] // §2.5 floor: the PNG encode below is the cost
    val history = ids.filter(_ % 2 == 0).map { e =>
      Multimodal.MediaRecord(e, "image",
        Multimodal.pngNoiseBytes(wOf(e), hOf(e), key = s"img:$e"))
    }.toDF()
    val batch = ids.filter(_ % 2 == 1).map { b =>
      val e = b - 1
      val rec =
        if (b % 3 == 0)
          Multimodal.pngNoiseBytes(wOf(e), hOf(e), key = s"img:$e")
        else if (b % 3 == 1)
          Multimodal.pngNoiseBytes(wOf(e), hOf(e), key = s"img:$e",
            tintTopRow = true)
        else Multimodal.pngNoiseBytes(wOf(b), hOf(b), key = s"img:$b")
      Multimodal.MediaRecord(b, "image", rec)
    }.toDF()
    StoreGates.withTempStore(s, "graft_q222_hs") { root =>
      // r19: pin the history hashes — they feed TWO store appends and
      // the takedown selection, and the unpinned chain re-encoded +
      // re-decoded ~2.5k PNGs per consumer (the rows are 5 ints/image;
      // guide §5 recompute-vs-pin trade clearly favors the pin here)
      val hh = Multimodal.imageDHash(s, history).toDF().transform(Checkpoints.pin)
      val bands = Seq("b0", "b1", "b2", "b3")
      // the two appends are independent (distinct batch ids) — overlap
      // them (guide §2.6)
      graft.operators.ParallelJobs.run(Seq(
        () => D.writeHammingStore(hh.filter(col("media_id") % 4 === 0),
          "media_id", bands, root, batchId = 1L),
        () => D.writeHammingStore(hh.filter(col("media_id") % 4 === 2),
          "media_id", bands, root, batchId = 2L)))
      D.deleteFromHammingStore(
        hh.filter(col("media_id") % 10 === 0).select(col("media_id")),
        "media_id", root, batchId = 3L)
      // pin: the batch hashes feed the band collect AND both serves
      val bh = Multimodal.imageDHash(s, batch).toDF().transform(Checkpoints.pin)
      def serve() = D.incrementalHammingDedup(s, root, bh, "media_id",
        bands, maxDist = 8)
      val masked = serve().transform(Checkpoints.pin)
      D.purgeHammingStore(s, root, "media_id", newBatchId = 4L)
      val compacted = serve().transform(Checkpoints.pin)
      StoreGates.compactionIdentityGate(masked, compacted,
          "hamming-store compaction changed served verdicts")
        .orderBy(col("media_id"))
        .transform(Checkpoints.pin)
    }
  }
  private val q222Sql =
    s"""WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
      |imgs AS (
      |  SELECT id AS mid, 12 + (id%4)*4 AS w, 8 + (id%3)*4 AS h,
      |         'img:' || id AS key, FALSE AS tint, TRUE AS decodable
      |  FROM ids WHERE id % 2 = 0
      |  UNION ALL
      |  SELECT id,
      |         CASE WHEN id%3 = 2 THEN 12 + (id%4)*4
      |              ELSE 12 + ((id-1)%4)*4 END,
      |         CASE WHEN id%3 = 2 THEN 8 + (id%3)*4
      |              ELSE 8 + ((id-1)%3)*4 END,
      |         CASE WHEN id%3 = 2 THEN 'img:' || id
      |              ELSE 'img:' || (id-1) END,
      |         id%3 = 1, TRUE
      |  FROM ids WHERE id % 2 = 1),
      |""".stripMargin + dHashChain + s""",
      |hist AS (SELECT b.* FROM bands b
      |  WHERE b.mid % 2 = 0 AND b.mid % 10 <> 0),
      |bat AS (SELECT b.* FROM bands b WHERE b.mid % 2 = 1),
      |kb AS (
      |  SELECT mid, 0 AS band, b0 AS key FROM hist
      |  UNION ALL SELECT mid, 1, b1 FROM hist
      |  UNION ALL SELECT mid, 2, b2 FROM hist
      |  UNION ALL SELECT mid, 3, b3 FROM hist),
      |qb AS (
      |  SELECT mid, 0 AS band, b0 AS key FROM bat
      |  UNION ALL SELECT mid, 1, b1 FROM bat
      |  UNION ALL SELECT mid, 2, b2 FROM bat
      |  UNION ALL SELECT mid, 3, b3 FROM bat),
      |cand AS (SELECT DISTINCT q.mid AS bid, k.mid AS hid
      |  FROM qb q JOIN kb k ON q.band = k.band AND q.key = k.key),
      |ver AS (SELECT cand.bid, cand.hid,
      |    bit_count(xor(h.b0, q.b0)) + bit_count(xor(h.b1, q.b1))
      |    + bit_count(xor(h.b2, q.b2)) + bit_count(xor(h.b3, q.b3)) AS d
      |  FROM cand JOIN hist h ON cand.hid = h.mid
      |  JOIN bat q ON cand.bid = q.mid),
      |near AS (SELECT bid, COUNT(DISTINCT hid) AS n_near_dups,
      |    CAST(MIN(d) AS BIGINT) AS best_dist
      |  FROM ver WHERE d <= 8 GROUP BY bid)
      |SELECT bat.mid AS media_id,
      |  CAST(COALESCE(near.n_near_dups, 0) AS BIGINT) AS n_near_dups,
      |  near.best_dist
      |FROM bat LEFT JOIN near ON bat.mid = near.bid
      |ORDER BY media_id""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q218_image_dhash", q218, Some(q218Sql)),
    QueryDef("q219_image_near_dup", q219, Some(q219Sql)),
    QueryDef("q222_image_hash_store", q222, Some(q222Sql)))
}
