package graft
object Bench {
  /** The ambience-probe pin: q83_pipeline_golden's sf0.1 steady-state
    * min-of-3 from BENCH_stable.json. Duplicated here so the probe needs
    * no JSON parse at bench time — RegistrySpec asserts this constant
    * EQUALS the BENCH_stable entry on every `sbt test`, so a re-pin
    * cannot silently stale the calibration (r15 verdict watch item 2).
    *
    * RE-BASELINED round 19 (r17 verdict task 1): the round-11 pin
    * (3.931) was measured in a container that no longer exists — every
    * session rounds 13–19 probed 1.27–2.94× against it, including idle
    * boxes, so "calibrated ≈ pin" claims compounded two estimates. New
    * pin = q83 min-of-3 in a representative r19 session (q83's plan is
    * unchanged this round — this re-baselines the CONTAINER, not q83);
    * the old pin is recorded as historical in BENCH_stable's q83 note
    * and BASELINE.md. Standing rule, adopted from the r17 verdict: if a
    * round's sessions consistently probe ≥1.3× against the current pin,
    * re-baseline again rather than carry the drift. */
  val probePin = 5.663

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    // absorb one-time session costs (executor spin-up, codegen framework
    // warm-up, parquet footer reads) so the first timed query isn't charged
    // for them
    spark.range(1000).selectExpr("sum(id)").collect()
    Seq(io.Tables.lineitem _, io.Tables.orders _, io.Tables.documents _,
      io.Tables.embeddings _, io.Tables.events _)
      .foreach(t => t(spark, sfDir).count())
    // ambience probe: q83 min-of-3 against its sf0.1 steady-state pin
    // (probePin, BENCH_stable.json, round 19) — emitted in the JSON so every
    // BENCH artifact self-documents its session weather and cross-round
    // total comparisons need no archaeology (the r14 driver sweep read
    // 1.35x slow and proving that took a same-code re-sweep). probe_x is
    // only calibrated at sf0.1, the pin's fixture; at other dirs read
    // probe_sec as a raw floor. A probe failure records -1, never aborts.
    // Known bias (ADVICE r15, accepted): the probe gives q83 extra warm
    // runs before the timed passes, so q83's per-query number is
    // post-probe warm relative to every other query and to pre-probe
    // baselines — read q83's BENCH_full entry as a warm floor, and use
    // BENCH_stable's min-of-3 (same warmth) for its cross-round compare.
    // min-of-3 (r16: the committed sweep's min-of-2 probe read 3.11x by
    // catching two slow early runs while the sweep's per-query mins ran
    // 0.93x the prior sweep — a third rep reads through a startup spike)
    val probe = try (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries("q83_pipeline_golden")(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }.min catch { case e: Throwable =>
      System.err.println(s"BENCH probe failed: ${e.getMessage}"); -1.0 }
    // two passes over everything, then a THIRD pass for queries still over
    // 1 s: single-pass numbers carry ±30% container/JIT noise that a 2x
    // regression gate can't tell from a real slowdown, and the handful of
    // multi-second queries dominate the total — min-of-3 there makes the
    // reported total steady-state by construction, while sub-second
    // queries' absolute noise is immaterial and not worth a third run
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def pass(only: Option[Set[String]]): Seq[(String, Double)] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true }
                   catch { case e: Throwable =>
                     System.err.println(s"BENCH FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
                     failed += name; false }
          // a crashed query must not register as fast: sentinel -1, kept
          // through the min() below so breakage is visible in the JSON
          name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
        }
    val (p1, p2) = (pass(None), pass(None))
    val min2 = p1.zip(p2).map { case ((n, a), (_, b)) =>
      n -> (if (a < 0 || b < 0) -1.0 else math.min(a, b))
    }
    val slow = min2.collect { case (n, t) if t >= 1.0 => n }.toSet
    val p3 = pass(Some(slow)).toMap
    val results = min2.map { case (n, t) =>
      n -> (p3.get(n) match {
        case Some(c) if t >= 0 && c >= 0 => math.min(t, c)
        case Some(_) => -1.0
        case None => t
      })
    }
    // 3-decimal times and headline fields LAST: harnesses that keep only the
    // tail of stdout still see metric/value/failed even when the per-query
    // map (272 entries) pushes the line past their capture window
    // explicit ROOT locale: the f-interpolator uses the JVM default locale,
    // which under e.g. de_DE emits "0,123" — invalid JSON
    def fmt(v: Double): String =
      if (v < 0) "-1" else "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.filter(_._2 >= 0).map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // `probePin` is sf0.1-only: at any other dir a ratio would be a
    // plausible-looking lie in a self-documenting record (review pass) -
    // emit -1 and let probe_sec stand as a raw floor
    val probeX =
      if (probe < 0 || !sfDir.contains("sf0.1")) -1.0 else probe / probePin
    val line = s"""{"queries":$qs,"failed":$failedJson,"sf":"$sfDir","n":${results.size},"probe_sec":${fmt(probe)},"probe_pin":$probePin,"probe_x":${fmt(probeX)},"metric":"total","unit":"sec","value":${fmt(total)}}"""
    println(line)
    // also persist the complete record: stdout capture has truncated the
    // per-query map before (r03's total was lost to exactly that), so
    // round-over-round comparison must never depend on captured stdout
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Exception => System.err.println(s"BENCH_full write failed: $e") }
    spark.stop()
  }
}
