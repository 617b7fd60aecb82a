package graft

import org.apache.spark.sql.functions._

import graft.ops.Skew

/** Join-amplification audit: exact per-key arithmetic, and no overflow
  * abort on planet-scale or degenerate catalog counts. */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("joinAmplification survives planet-scale hot keys (no int64 overflow abort)") {
    // the audit's own target regime: keys whose output product and whose
    // TOTAL pass 2^63 — the old all-long spelling aborted under ANSI
    // (and DuckDB raised) exactly here
    val l = Seq(("hot", 4000000000L), ("warm", 3000000L), ("cold", 7L))
      .toDF("key", "n_left")
    val r = Seq(("hot", 5000000000L), ("warm", 2000000L), ("cold", 3L))
      .toDF("key", "n_right")
    val got = Skew.joinAmplificationCounts(l, r, topK = 3)
      .select("key", "out_rows", "share_ppm")
      .as[(String, Long, Long)].collect()
      .map { case (k, o, s) => k -> ((o, s)) }.toMap
    // expected, computed in unbounded integers with the documented
    // saturate + magnitude-branch semantics
    val counts = Map("hot" -> (BigInt(4000000000L), BigInt(5000000000L)),
      "warm" -> (BigInt(3000000L), BigInt(2000000L)),
      "cold" -> (BigInt(7), BigInt(3)))
    val maxL = BigInt(Long.MaxValue)
    val outs = counts.view.mapValues { case (a, b) => (a * b).min(maxL) }.toMap
    val tot = outs.values.sum
    val want = outs.map { case (k, o) =>
      val share = if (tot <= BigInt(9223372036854L)) o * 1000000 / tot
        else o / (tot / 1000000)
      k -> ((o.toLong, share.toLong))
    }
    assert(got == want, s"got $got want $want")
    // sanity: the hot key saturated (4e9 · 5e9 = 2e19 > Long.MaxValue)
    assert(got("hot")._1 == Long.MaxValue)
  }

  test("joinAmplificationCounts tolerates zero/negative catalog counts (no ANSI div-by-zero)") {
    // a stats catalog is external input: a dropped-partition row can carry
    // n = 0, a corrupted one n < 0 — both must report out_rows = 0, not
    // abort the audit on the saturation guard's division
    val l = Seq(("a", 10L), ("z", 0L), ("neg", -3L), ("b", 5L))
      .toDF("key", "n_left")
    val r = Seq(("a", 4L), ("z", 7L), ("neg", 2L), ("b", 0L))
      .toDF("key", "n_right")
    val got = Skew.joinAmplificationCounts(l, r, topK = 4)
      .select("key", "out_rows", "share_ppm")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 40L, 1000000L), ("b", 0L, 0L),
      ("neg", 0L, 0L), ("z", 0L, 0L)))
    // degenerate all-zero catalog: total is 0 — shares report 0, no abort
    val zl = Seq(("x", 0L)).toDF("key", "n_left")
    val zr = Seq(("x", 9L)).toDF("key", "n_right")
    val z = Skew.joinAmplificationCounts(zl, zr, topK = 1)
      .select("out_rows", "share_ppm").as[(Long, Long)].collect().toSeq
    assert(z == Seq((0L, 0L)))
  }

  test("joinAmplification small-scale values match the exact all-long arithmetic") {
    val l = (1 to 50).flatMap(i => Seq.fill(i)(s"k${i % 5}")).toDF("key")
      .select(col("key"), lit(1L).as("one"))
    val r = (1 to 30).map(i => s"k${i % 5}").toDF("key")
    val got = Skew.joinAmplification(l, r, "key", "key", topK = 5)
      .select("key", "n_left", "n_right", "out_rows", "share_ppm")
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    val lc = l.groupBy("key").count().as[(String, Long)].collect().toMap
    val rc = r.groupBy("key").count().as[(String, Long)].collect().toMap
    val outs = lc.keySet.intersect(rc.keySet).map(k => k -> lc(k) * rc(k)).toMap
    val tot = outs.values.sum
    val want = outs.map { case (k, o) =>
      (k, lc(k), rc(k), o, o * 1000000L / tot) }.toSeq
      .sortBy(t => (-t._4, t._1))
    assert(got == want)
  }
}
