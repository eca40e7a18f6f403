package graft

/** Scale-rehearsal bench (VERDICT r13 item #1): runs the heaviest
  * query keys plus the hour→day→month cascade chain at sf0.1 / sf1 /
  * sf3 (the latter two synthesized by [[ScaleData]] — 10 and 30
  * id-shifted copies of sf0.1) and fits a per-key scaling exponent
  * alpha from least-squares log(t) ~ alpha·log(scale).
  *
  * alpha ≈ 1 is linear scaling (the 100 TB posture every §6 claim
  * argues for); alpha > ~1.2 names the key as a round-15 fix item.
  * Interpretation caveat baked into the fit: the sf0.1 point carries
  * a fixed per-query floor (session/scan setup of ~0.3-0.6 s that
  * does NOT grow with data), which biases the fitted alpha DOWN, so
  * the JSON also reports alpha_tail — the exponent fitted over the
  * scales ≥ sf1 only, where the floor has mostly amortized.
  * alpha_tail is the number to read for "would this survive another
  * 10×".
  *
  * Each (key, scale) measurement forks ONE child JVM (graft.Bench
  * --one, same min-of-2 / warmup discipline as the headline bench) so
  * numbers are not cross-contaminated; children run SEQUENTIALLY so
  * each gets the full 32 cores.
  *
  * Usage: graft.BenchScale [outPath]   (default bench_scale.json)
  * Env: SPARK_GRAFT_SCALE_DIRS="0.1=/dir,1=/dir,3=/dir" overrides the
  * default scale→dir map; SPARK_GRAFT_SCALE_KEYS comma-list overrides
  * the key set.
  */
object BenchScale {

  /** The 12 heaviest r13 board keys + the cascade chain, per VERDICT,
    * + one representative per remaining family (notifications'
    * widest-shuffle plan, the sketch percentile rollup, attribute
    * transitions, the two-hop relation rollup) so the scaling
    * evidence spans every §2 family, not just the document keys. */
  val DefaultKeys: Seq[String] = Seq(
    "d45_canonical_dedup", "d22_dup_clusters", "s17_ann_tuning",
    "d39_source_classifier", "d51_split_leakage", "s08_ann_ivfpq",
    "d49_dedup_sweep", "s15_hybrid_filtered", "e08_top_contributors",
    "d13_curation", "d02_shingle_jaccard", "t18_gapfill_interp",
    "t01_rollup_hour", "g02_agg_cascade", "g07_agg_pctl_cascade",
    "n11_alert_correlation", "t26_percentile_rollup",
    "a12_attr_transitions", "e03_entity_rollup_2hop")

  val DefaultScales: Seq[(Double, String)] = Seq(
    0.1 -> "/root/testdata/sf0.1",
    1.0 -> "/tmp/graft_scale/sf1",
    3.0 -> "/tmp/graft_scale/sf3",
    10.0 -> "/tmp/graft_scale/sf10")

  /** Least-squares slope of log(t) vs log(s) over the given points. */
  def fitExponent(pts: Seq[(Double, Double)]): Double = {
    val ls = pts.map { case (s, t) => (math.log(s), math.log(t)) }
    val n = ls.size.toDouble
    val (sx, sy) = (ls.map(_._1).sum, ls.map(_._2).sum)
    val sxx = ls.map(p => p._1 * p._1).sum
    val sxy = ls.map(p => p._1 * p._2).sum
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("bench_scale.json")
    val scales = sys.env.get("SPARK_GRAFT_SCALE_DIRS")
      .map(_.split(",").toSeq.map { kv =>
        kv.split("=", 2) match {
          case Array(s, d) => (s.toDouble, d)
          case _ => sys.error(
            s"SPARK_GRAFT_SCALE_DIRS entry '$kv' is not <scale>=<dir> " +
              "(e.g. 0.1=/root/testdata/sf0.1,1=/tmp/graft_scale/sf1)")
        } })
      .getOrElse(DefaultScales)
    val keys = sys.env.get("SPARK_GRAFT_SCALE_KEYS")
      .map(_.split(",").toSeq).getOrElse(DefaultKeys)

    val rows = for (k <- keys) yield {
      val times = for ((s, dir) <- scales) yield {
        // sf10 children need a wider ceiling than the headline board
        val (sec, ok, _) = Bench.forkOne(k, env = Map("SPARK_GRAFT_SF_DIR" -> dir),
          timeoutMin = 20, tag = s"bench-scale $dir")
        System.err.println(f"[bench-scale] $k%-24s sf$s%-4s ${sec}%8.2f s ok=$ok")
        (s, sec, ok)
      }
      (k, times)
    }

    // Locale.ROOT: the default-locale f-interpolator renders 0.3336
    // as "0,3336" on comma-decimal JVMs — invalid JSON
    def fmt(d: Double) = if (d.isNaN) "null"
      else String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val keyJson = rows.map { case (k, ts) =>
      val okPts = ts.collect { case (s, sec, true) => (s, sec) }
      val alpha = if (okPts.size >= 2) fitExponent(okPts) else Double.NaN
      val tailPts = okPts.filter(_._1 >= 1.0)
      val aTail = if (tailPts.size >= 2) fitExponent(tailPts) else Double.NaN
      val per = ts.map { case (s, sec, ok) =>
        s""""sf$s":${if (ok) fmt(sec) else "null"}""" }.mkString(",")
      s""""$k":{$per,"alpha":${fmt(alpha)},"alpha_tail":${fmt(aTail)}}"""
    }.mkString("{", ",", "}")
    val totals = scales.map { case (s, _) =>
      val tot = rows.flatMap(_._2.collect { case (`s`, sec, true) => sec }).sum
      s""""sf$s":${fmt(tot)}""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"scale_rehearsal","unit":"sec","n_keys":${keys.size},""" +
      s""""scales":${scales.map { case (s, d) => s""""sf$s":"$d"""" }.mkString("{", ",", "}")},""" +
      s""""totals":$totals,"keys":$keyJson}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a failed fork leaves its cell null in the JSON; exit non-zero so
    // a script consuming the board can't read a partial rehearsal
    // (whose per-scale totals sum DIFFERENT key sets) as a pass
    val failed = rows.flatMap { case (k, ts) =>
      ts.collect { case (s, _, false) => s"$k@sf$s" } }
    if (failed.nonEmpty) {
      System.err.println(
        s"[bench-scale] ${failed.size} measurement(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
