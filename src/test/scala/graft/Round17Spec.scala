package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 specs: the PIN-ADOPTION policy (VERDICT r16 #1 — when a
  * host's state change persists, two consecutive agreeing drift
  * candidates replace stale pins BY RULE, through the same write
  * guard that keeps transients out), the SYMMETRIC drift guard
  * (ADVICE r16 — an unrepresentatively FAST close must not wedge the
  * pin file either), and the sentinel PRE-PROBE decision (VERDICT r16
  * #6 — a 2-second sentinel read decides whether a ~20-minute full
  * close can possibly be useful before it is launched).
  */
class Round17Spec extends AnyFunSuite {

  test("symmetric drift guard: a full sf0.1 run whose pin-ratio " +
      "median is far BELOW 1.0 diverts to a drift sidecar instead of " +
      "taking the pin-source name") {
    val sf01 = "/root/testdata/sf0.1"
    // the ADVICE r16 scenario: an unrepresentatively fast close
    val fast = Bench.detailWriteTarget(None, sf01, Nil, Some(0.85))
    assert(fast.startsWith("BENCH_DETAIL_drift_") && fast.endsWith(".json"),
      fast)
    // boundary: 2 − driftBar = 0.95 is still pin-clean (noise margin
    // mirrors the slow side, where 1.05 is clean)
    assert(Bench.detailWriteTarget(None, sf01, Nil, Some(0.95)) ==
      "BENCH_DETAIL.json")
    assert(Bench.detailWriteTarget(None, sf01, Nil, Some(0.949))
      .startsWith("BENCH_DETAIL_drift_"))
    // the r16 committed close (median 0.96) stays pin-clean
    assert(Bench.detailWriteTarget(None, sf01, Nil, Some(0.96)) ==
      "BENCH_DETAIL.json")
  }

  test("adoption candidate: only an honest in-band drifted run " +
      "qualifies — unhealed requotes, errors, contention, noise-margin " +
      "medians and burst-level medians are all excluded; the band is " +
      "symmetric; a HEALED requote does not disqualify") {
    def cand(req: Seq[String] = Nil, err: Seq[String] = Nil,
        contended: Boolean = false, m: Option[Double],
        healed: Seq[Double] = Nil): Boolean =
      Bench.isAdoptionCandidate(req, err, contended, m, healed)
    // the r16 persistent-drift shape: zero requotes, median ~1.13
    assert(cand(m = Some(1.13)))
    assert(cand(m = Some(1.25))) // band ceiling inclusive
    // symmetric fast band (the ADVICE wedge's dual)
    assert(cand(m = Some(0.85)))
    assert(cand(m = Some(0.80))) // 1/1.25 = 0.8, floor inclusive
    // noise margin is NOT a candidate (those runs are pin-clean)
    assert(!cand(m = Some(1.0)))
    assert(!cand(m = Some(1.05)))
    assert(!cand(m = Some(0.95)))
    // burst territory is NOT a candidate (transient, not state)
    assert(!cand(m = Some(1.26)))
    assert(!cand(m = Some(0.79)))
    assert(!cand(m = None))
    // any dishonesty disqualifies
    assert(!cand(err = Seq("q1_agg"), m = Some(1.13)))
    assert(!cand(contended = true, m = Some(1.13)))
    // a requote whose healed ratio is missing (no pin) or out of band
    // disqualifies; one that healed back inside the band does not —
    // the r17 close shape: harmonic flaps to 2.1x every run and heals
    // to 1.06x, and must not block adoption forever
    assert(!cand(req = Seq("q1_agg"), m = Some(1.13)))
    assert(cand(req = Seq("graph_harmonic_centrality"), m = Some(1.15),
      healed = Seq(1.06)))
    assert(!cand(req = Seq("meta_resource_audit"), m = Some(1.15),
      healed = Seq(1.32)), "healed beyond the ceiling still disqualifies")
    assert(!cand(req = Seq("a", "b"), m = Some(1.15), healed = Seq(1.0)),
      "healed-ratio count must cover every requoted name (fails closed)")
    assert(cand(req = Seq("a", "b"), m = Some(1.13),
      healed = Seq(0.99, 1.2)))
  }

  test("candidate agreement: same machine state within ~5% per-query " +
      "median agrees; a different transient, a sparse overlap, or a " +
      "registry-shape change does not") {
    val a = (1 to 100).map(i => s"q$i" -> 1.0 * i).toMap
    // b = a uniformly +3%: same state
    assert(Bench.candidatesAgree(a, a.map { case (k, v) => k -> v * 1.03 }))
    assert(Bench.candidatesAgree(a, a.map { case (k, v) => k -> v * 0.97 }))
    // 10% apart: two different states, no adoption
    assert(!Bench.candidatesAgree(a, a.map { case (k, v) => k -> v * 1.10 }))
    assert(!Bench.candidatesAgree(a, a.map { case (k, v) => k -> v * 0.90 }))
    // coverage guard: agreeing values but over a sliver of the
    // registry (entries added/removed between the runs) never adopt
    val sliver = a.take(50)
    assert(!Bench.candidatesAgree(a, sliver))
    assert(!Bench.candidatesAgree(sliver, a))
    // empty prior never agrees
    assert(!Bench.candidatesAgree(a, Map.empty))
  }

  test("the r16 drift sequence replayed through the policy: 259.6-era " +
      "pins, then two consecutive ~1.13x closes — the FIRST files as a " +
      "candidate, the SECOND adopts") {
    // pins: the committed quiet close's per-query medians (synthetic,
    // 100 entries standing in for the 434)
    val pins = (1 to 100).map(i => s"q$i" -> (0.1 + i * 0.01)).toMap
    // close A: the whole registry uniformly 1.13x — zero requotes
    // (1.13 < the 2.0 requote factor), zero errors, uncontended
    val closeA = pins.map { case (k, v) => k -> v * 1.13 }
    val medA = {
      val r = closeA.map { case (k, v) => v / pins(k) }.toSeq.sorted
      r(r.size / 2)
    }
    assert(Bench.requoteNames(closeA, pins).isEmpty)
    // A diverts (write guard) AND qualifies as a candidate
    assert(Bench.detailWriteTarget(None, "/root/testdata/sf0.1", Nil,
      Some(medA)).startsWith("BENCH_DETAIL_drift_"))
    assert(Bench.isAdoptionCandidate(Nil, Nil, contended = false, Some(medA)))
    // with NO prior candidate, A cannot adopt — it becomes the candidate
    assert(!Bench.candidatesAgree(closeA, Map.empty))
    // close B: same state re-measured (within noise of A)
    val closeB = closeA.map { case (k, v) => k -> v * 1.01 }
    assert(Bench.isAdoptionCandidate(Nil, Nil, contended = false, Some(medA * 1.01)))
    // the r17 variant: B carries one healed flap — still a candidate
    assert(Bench.isAdoptionCandidate(Seq("graph_harmonic_centrality"),
      Nil, contended = false, Some(medA * 1.01), Seq(1.06)))
    // B agrees with candidate A -> B adopts (takes the pin-source name)
    assert(Bench.candidatesAgree(closeB, closeA))
    // counterfactual: had B been a fresh burst instead (2x), it would
    // neither requote-clean nor agree — no adoption
    val burst = pins.map { case (k, v) => k -> v * 2.5 }
    assert(Bench.requoteNames(burst, pins).nonEmpty)
    assert(!Bench.candidatesAgree(burst, closeA))
  }

  test("candidate-file round trip: the detail body a candidate run " +
      "writes parses back through the same quietSf01Pins validation " +
      "the pin source uses") {
    val qs = Map("q1_agg" -> 0.565, "graph_triangles" -> 0.203)
    val body =
      s"""{"metric":"total","value":0.768,"unit":"sec","n":2,""" +
        s""""queries":{"q1_agg":0.565,"graph_triangles":0.203},""" +
        s""""amortized":[],"adoption":"candidate","load1_pre":0.2,""" +
        s""""load5_pre":0.3,"load1_post":0.4,"sentinel_ratios":{},""" +
        s""""requoted":[],"errors":[],"pin_ratio_median":1.13,""" +
        s""""pin_ratio_p90":1.2,"contended":false,""" +
        s""""sf":"/root/testdata/sf0.1"}"""
    assert(Bench.quietSf01Pins(body) == qs)
  }

  test("pin-affirming run: a noise-margin median with only healed " +
      "requotes refutes a pending candidate; drifted, bursty, " +
      "contended or unhealed runs do not") {
    def affirm(req: Seq[String] = Nil, err: Seq[String] = Nil,
        contended: Boolean = false, m: Option[Double],
        healed: Seq[Double] = Nil): Boolean =
      Bench.pinAffirming(req, err, contended, m, healed)
    // the r17 shape: median 1.005, one healed audit requote — affirms
    assert(affirm(req = Seq("meta_resource_audit"), m = Some(1.005),
      healed = Seq(1.09)))
    // strictly clean run affirms trivially
    assert(affirm(m = Some(1.0)))
    assert(affirm(m = Some(0.96)))
    // an in-adoption-band median is a CANDIDATE, not an affirmation
    assert(!affirm(m = Some(1.13)))
    assert(!affirm(m = Some(0.9)))
    // bursts/contention/errors say nothing about steady state
    assert(!affirm(m = Some(2.0)))
    assert(!affirm(contended = true, m = Some(1.0)))
    assert(!affirm(err = Seq("x"), m = Some(1.0)))
    // an unhealed requote is a mixed signal — no affirmation
    assert(!affirm(req = Seq("x"), m = Some(1.0), healed = Seq(1.9)))
    assert(!affirm(req = Seq("x"), m = Some(1.0)))
    // exactly one of candidate/affirming can hold for a given median
    for (m <- Seq(0.8, 0.9, 0.96, 1.0, 1.05, 1.13, 1.25, 1.4)) {
      val c = Bench.isAdoptionCandidate(Nil, Nil, contended = false, Some(m))
      val a = Bench.pinAffirming(Nil, Nil, contended = false, Some(m))
      assert(!(c && a), s"median $m both candidate and affirming")
    }
  }

  test("sentinel pre-probe: proceeds on a clean or in-band host (a " +
      "drifted-but-adoptable close is the evidence the adoption " +
      "policy needs), refuses only burst territory, always proceeds " +
      "with no pins") {
    // clean host
    assert(Bench.preProbeProceed(Seq(0.98, 1.01, 1.04)))
    // the r16 persistent-drift state (~1.13): proceed — this close
    // becomes an adoption candidate instead of a wasted refusal
    assert(Bench.preProbeProceed(Seq(1.10, 1.13, 1.18)))
    // band ceiling: median exactly 1.25 still proceeds
    assert(Bench.preProbeProceed(Seq(1.0, 1.25, 1.3)))
    // burst: median beyond the adoption ceiling — refuse
    assert(!Bench.preProbeProceed(Seq(1.3, 2.5, 8.0)))
    // one wild sentinel does not refuse a clean median
    assert(Bench.preProbeProceed(Seq(0.9, 1.0, 7.0)))
    // fast host proceeds (symmetric-divert + candidate path)
    assert(Bench.preProbeProceed(Seq(0.6, 0.7, 0.8)))
    // bootstrap: nothing to be stale against
    assert(Bench.preProbeProceed(Nil))
  }

  test("codeVersion covers the whole graft package, nested classes too") {
    // nested and anonymous classes are in the digest's input set: an
    // edit confined to Warehouse$AuditProbe must re-key the cache.
    // Shape (also asserted by Round16Spec): well-formed, stable
    val k = util.codeVersion
    assert(k.matches("[0-9a-f]{16}"))
    // the enumeration the key hashes must include nested classes —
    // replicate the walk and assert the probe class is in it
    val loc = new java.io.File(util.getClass
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(loc.isDirectory, s"test classpath should be a dir: $loc")
    def walk(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      if (f.isDirectory) kids.flatMap(walk) else Seq(f)
    }
    val names = walk(new java.io.File(loc, "graft"))
      .map(_.getName).filter(_.endsWith(".class")).toSet
    assert(names.contains("Warehouse$AuditProbe.class"),
      "the SparkListener doing the measuring is not under the hashed root")
    assert(names.exists(n => n.startsWith("Analytics") && n.contains("$")),
      "no Analytics nested/anon classes found under the hashed root")
    assert(names.contains("util$.class"),
      "helpers outside the five r16 files must be covered too")
  }
}
