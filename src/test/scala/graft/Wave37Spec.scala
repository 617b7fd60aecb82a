package graft

import org.apache.spark.sql.functions._

import graft.ops.{Batch, Mixture, Shard}

/** Wave 37: annealing schedule, padding-waste A/B, packed-attention cost,
  * resharding stability. */
class Wave37Spec extends SparkSpec {
  import spark.implicits._

  test("annealSchedule: floors filter, allocation splits the phase budget") {
    val docs = Seq(
      ("a", 100L, 900000L), ("a", 100L, 100000L),
      ("b", 300L, 950000L), ("b", 100L, 100000L))
      .toDF("lang", "n_tok", "score_ppm")
    val out = Mixture.annealSchedule(docs, "lang", col("n_tok"),
        col("score_ppm"), Seq(
          Mixture.AnnealPhase("p1", 0L, 1000L),
          Mixture.AnnealPhase("p2", 500000L, 100L)))
      .orderBy("phase", "lang")
      .as[(String, String, Long, Long, Long, Long, Long)].collect()
    // p1: both docs per lang; p2: only the high-score doc of each lang
    assert(out.map(r => (r._1, r._2, r._3, r._4)).toSeq == Seq(
      ("p1", "a", 2L, 200L), ("p1", "b", 2L, 400L),
      ("p2", "a", 1L, 100L), ("p2", "b", 1L, 300L)))
    // masses: floor(sqrt(n)*1e6 + 0.5); allocation = budget*mass div total
    val p1 = out.filter(_._1 == "p1")
    val (ma, mb) = (p1(0)._5, p1(1)._5)
    assert(ma == math.floor(math.sqrt(200.0) * 1e6 + 0.5).toLong)
    assert(p1(0)._6 == 1000L * ma / (ma + mb))
    assert(p1(1)._6 == 1000L * mb / (ma + mb))
    // epochs_ppm = alloc*1e6 div n_tokens
    assert(p1(0)._7 == p1(0)._6 * 1000000L / 200L)
    // phases keep their budgets separate
    val p2 = out.filter(_._1 == "p2")
    assert(p2.map(_._6).sum <= 100L)
  }

  test("annealSchedule: epochs_ppm exact past the int64 upscale bound") {
    // a 1e13-token phase budget: alloc*1e6 = 1e19 > 2^63 would abort the
    // plain-int64 spelling under ANSI (r14 ADVICE); the decimal route is
    // exact - one cell takes the whole budget, epochs = budget*1e6/n_tok
    val df = Seq(("a", 1000000L, 900000L)).toDF("lang", "n_tok", "score_ppm")
    val out = Mixture.annealSchedule(df, "lang", col("n_tok"),
        col("score_ppm"),
        Seq(Mixture.AnnealPhase("p", 0L, 10000000000000L)))
      .select("alloc_tokens", "epochs_ppm").as[(Long, Long)].head()
    assert(out == ((10000000000000L, 10000000000000L)))
  }

  test("annealSchedule: duplicate phase names rejected") {
    val df = Seq(("a", 1L, 1L)).toDF("lang", "n_tok", "score_ppm")
    intercept[IllegalArgumentException] {
      Mixture.annealSchedule(df, "lang", col("n_tok"), col("score_ppm"),
        Seq(Mixture.AnnealPhase("p", 0L, 1L), Mixture.AnnealPhase("p", 0L, 2L)))
    }
  }

  test("paddingWaste: hand case at B=2") {
    // lens 1,2,3,10 → sorted batches {1,2},{3,10}: pad = (2*2-3)+(2*10-13)=8
    val lens = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 10L))
      .toDF("doc_id", "n_tok")
    val out = Batch.paddingWaste(lens, "doc_id", "n_tok", 2)
      .orderBy("policy")
      .as[(String, Long, Long, Long, Long)].collect()
    val sorted = out.find(_._1 == "sorted").get
    assert(sorted._2 == 2L && sorted._3 == 16L && sorted._4 == 8L)
    assert(sorted._5 == 8L * 1000000L / 24L)
    val random = out.find(_._1 == "random").get
    assert(random._2 == 2L && random._3 == 16L)
    // sorted-contiguous is optimal among size-B groupings
    assert(sorted._4 <= random._4)
  }

  test("paddingWaste: sorted <= random on random frames, any partitioning") {
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 3) {
      val n = 50 + rnd.nextInt(200)
      val parts = 1 + rnd.nextInt(7)
      val lens = (1 to n).map(i => (i.toLong, rnd.nextInt(100).toLong))
      val df = lens.toDF("doc_id", "n_tok").repartition(parts)
      val out = Batch.paddingWaste(df, "doc_id", "n_tok", 8)
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(out("sorted")._4 <= out("random")._4, s"trial $trial")
      // both policies see the same tokens and batch count
      assert(out("sorted")._3 == lens.map(_._2).sum)
      assert(out("random")._3 == out("sorted")._3)
      assert(out("sorted")._2 == (n + 7) / 8)
      // brute-force the sorted policy's padding on the driver
      val expected = lens.map(_._2).sorted.grouped(8)
        .map(g => g.max * g.size - g.sum).sum
      assert(out("sorted")._4 == expected, s"trial $trial")
    }
  }

  test("attentionCost: hand case — bins follow the q62 rule") {
    // loader order is md5-hashed; use one doc per bin to pin the math:
    // lens 512,512 → each doc fills a bin exactly → masked == naive
    val exact = Seq((1L, 512L), (2L, 512L)).toDF("doc_id", "n_tok")
    val e = Batch.attentionCost(exact, "doc_id", "n_tok", 512)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(e._2 == 2L && e._3 == 1024L && e._4 == e._5 && e._6 == 0L)
    // two docs sharing a bin: naive = (a+b)^2 > a^2 + b^2 = masked
    val shared = Seq((1L, 100L), (2L, 100L)).toDF("doc_id", "n_tok")
    val s = Batch.attentionCost(shared, "doc_id", "n_tok", 512)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(s._2 == 1L && s._4 == 20000L && s._5 == 40000L)
    assert(s._6 == (40000L - 20000L) * 1000000L / 40000L)
  }

  test("attentionCost: caller column names never reach a SQL string") {
    // a length column whose name needs backticks (r14 ADVICE: the expr()
    // interpolation mis-parsed it) - re-aliased internally, so it works
    val lens = Seq((1L, 100L), (2L, 300L)).toDF("doc_id", "len col")
    val out = Batch.attentionCost(lens, "doc_id", "len col", 512)
      .select("n_bins", "n_tokens").as[(Long, Long)].head()
    assert(out == ((1L, 400L)))
  }

  test("attentionCost: masked <= naive and totals preserved on random frames") {
    val rnd = new scala.util.Random(46)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(100)
      val lens = (1 to n).map(i => (i.toLong, 1L + rnd.nextInt(300).toLong))
      val df = lens.toDF("doc_id", "n_tok").repartition(1 + rnd.nextInt(5))
      val out = Batch.attentionCost(df, "doc_id", "n_tok", 256)
        .as[(Long, Long, Long, Long, Long, Long)].head()
      assert(out._3 == lens.map(_._2).sum)
      assert(out._4 == lens.map(l => l._2 * l._2).sum) // masked is packing-free
      assert(out._4 <= out._5, s"trial $trial")
    }
  }

  test("empty inputs produce zeroed reports, not nulls") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tok")
    val pw = Batch.paddingWaste(empty, "doc_id", "n_tok", 4)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(pw.length == 2 && pw.forall(r => r._2 == 0L && r._3 == 0L &&
      r._4 == 0L && r._5 == 0L))
    val ac = Batch.attentionCost(empty, "doc_id", "n_tok", 128)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(ac == ((128L, 0L, 0L, 0L, 0L, 0L)))
    val rs = Shard.reshardStability(empty.select("doc_id"), "doc_id", 4, 8)
      .as[(String, Long, Long, Long)].collect()
    assert(rs.length == 2 && rs.forall(r => r._2 == 0L && r._3 == 0L &&
      r._4 == 0L))
  }

  test("reshardStability: same shard count moves nothing; grow moves ~1-old/new") {
    val ids = (1L to 400L).toDF("doc_id")
    val same = Shard.reshardStability(ids, "doc_id", 8, 8)
      .as[(String, Long, Long, Long)].collect()
    assert(same.forall(r => r._3 == 0L && r._4 == 0L))
    val grow = Shard.reshardStability(ids, "doc_id", 4, 8)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // rendezvous expectation: 1 - 4/8 = 500000 ppm (3 sigma ~ 75000 at n=400)
    val rdv = grow("rendezvous")._4
    assert(rdv > 420000L && rdv < 580000L, s"rendezvous moved_ppm $rdv")
    // a power-of-two DOUBLING is mod-hash's best case (h%4 == h%8 exactly
    // when the extra bit is 0 — 50% stay, same as the rendezvous minimum);
    // on a non-divisor grow mod rewrites far more than the minimum:
    // stay(4 -> 5) = P(h%20 < 4) = 20% for mod vs 80% for rendezvous
    val odd = Shard.reshardStability(ids, "doc_id", 4, 5)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(odd("rendezvous")._4 < 300000L, s"rdv ${odd("rendezvous")._4}")
    assert(odd("mod")._4 > 650000L, s"mod ${odd("mod")._4}")
    assert(odd("mod")._4 > odd("rendezvous")._4)
  }

  test("rendezvousShard: moved docs land on NEW shards only (grow 4 -> 8)") {
    val ids = (1L to 300L).toDF("doc_id")
    val both = ids.select(
      Shard.rendezvousShard(col("doc_id"), 4).as("old"),
      Shard.rendezvousShard(col("doc_id"), 8).as("nw"))
    val moved = both.filter(col("old") =!= col("nw"))
    assert(moved.filter(col("nw") < 4).count() == 0L)
    // shards in range
    assert(both.filter(col("nw") < 0 || col("nw") > 7).count() == 0L)
  }
}
