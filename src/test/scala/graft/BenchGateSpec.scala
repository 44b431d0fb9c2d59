package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the bench regression gate (no SparkSession needed).
  *
  * The r05 verdict found the gate had a truncated-baseline blind spot:
  * the driver's BENCH_r{N}.json `tail` field truncates from the FRONT,
  * so gating against it silently skipped the 8 alphabetically-first
  * queries. These tests pin (a) the record codec, and that a round's
  * BENCH_r*.json is refused rather than read, (b) the 2x-above-floor regression
  * rule, (c) that partial baselines are DETECTED rather than silently
  * shrinking the gate, and (d) the one query-selection grammar.
  */
class BenchGateSpec extends AnyFunSuite {

  private def tmpJson(content: String): Path = {
    val p = Files.createTempFile("bench", ".json")
    Files.write(p, content.getBytes("UTF-8"))
    p.toFile.deleteOnExit()
    p
  }

  test("loadBaseline parses Bench's own single-line output") {
    val p = tmpJson(
      """{"metric":"total","value":3.5,"unit":"sec","queries":{"q_a":1.25,"q_b":2.25e0},"sf":"/x","failed":0}""")
    val base = Bench.loadBaseline(p.toString)
    assert(base.queries == Seq("q_a" -> 1.25, "q_b" -> 2.25))
    // files predating the cold field (every r<=20 artifact) read with no colds
    assert(base.cold.isEmpty && base.sf == "/x" && base.failed == 0)
    val empty = tmpJson(
      """{"metric":"total","value":0.0,"unit":"sec","cold":{},"queries":{},"sf":"/x","failed":0}""")
    val e = intercept[IllegalArgumentException](Bench.loadBaseline(empty.toString))
    assert(e.getMessage.contains(empty.toString))
  }

  test("record golden: the stdout line keeps its bytes and reads back to the same maps") {
    // What the string-concatenating writer produced, byte for byte:
    // keys, key order, Double.toString numbers (exponents included)
    val cold = Seq("q_a" -> 9.5, "q_b" -> 1.0E-4)
    val queries = Seq("q_a" -> 0.405892048, "q_b" -> 2.25, "q_c" -> -1.0, "q_d" -> 123456.789)
    def obj(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = 0.405892048 + 2.25 + 123456.789
    val old = s"""{"metric":"total","value":$total,"unit":"sec","cold":${obj(cold)},""" +
      s""""queries":${obj(queries)},"sf":"/data/sf0.1","failed":1}"""
    val rec = Bench.Record(cold, queries, "/data/sf0.1", 1)
    assert(rec.toJson === old)
    val back = Bench.Record.read(tmpJson(old).toString)
    assert(back === rec)
    // an empty run renders an empty cold object and a 0.0 total
    assert(Bench.Record(Nil, Nil, "/x", 0).toJson ===
      """{"metric":"total","value":0.0,"unit":"sec","cold":{},"queries":{},"sf":"/x","failed":0}""")
  }

  test("committed bench artifacts re-render byte-identically through the record codec") {
    val files = new java.io.File(".").listFiles()
      .filter(f => f.getName.startsWith("bench_") && f.getName.endsWith(".json"))
    assume(files.nonEmpty, "no committed bench_*.json beside the build")
    files.foreach { f =>
      val text = new String(Files.readAllBytes(f.toPath), "UTF-8").stripLineEnd
      // artifacts recorded before the cold field gain only an empty one
      val expected =
        if (text.contains("\"cold\":")) text
        else text.replace("\"unit\":\"sec\",", "\"unit\":\"sec\",\"cold\":{},")
      assert(Bench.Record.read(f.getPath).toJson === expected, f.getName)
    }
  }

  test("a round's BENCH_r*.json given as the baseline fails naming the file") {
    // the round file's wrapper: the record survives only as a front-truncated
    // string in `tail`; reading it would gate a fraction of the registry
    val p = tmpJson(
      """{"n":5,"rc":0,"cpus":32,"sf":0.1,"tail":"ct\":1.1,\"q_dedup\":0.32},\"sf\":...","parsed":null}""")
    val e = intercept[IllegalArgumentException](Bench.loadBaseline(p.toString))
    assert(e.getMessage.contains(p.toString), e.getMessage)
    val r21 = new java.io.File("BENCH_r21.json")
    if (r21.exists) {
      val e2 = intercept[IllegalArgumentException](Bench.loadBaseline(r21.getPath))
      assert(e2.getMessage.contains("BENCH_r21.json"), e2.getMessage)
    }
    // not JSON at all fails the same way
    val junk = tmpJson("q_a: 1.0")
    assert(intercept[IllegalArgumentException](Bench.loadBaseline(junk.toString))
      .getMessage.contains(junk.toString))
  }

  test("cold gate: a build-path regression >2x above the 2s floor is flagged") {
    // the same regressions() rule the warm gate uses, at the cold
    // thresholds — sub-floor colds (plain JIT noise) never flag
    val coldBase = Map("q_art" -> 5.0, "q_tiny" -> 0.4)
    val flagged = Bench.regressions(
      Seq("q_art" -> 11.0, "q_tiny" -> 1.9),
      coldBase, Bench.ColdFactor, Bench.ColdFloorSec)
    assert(flagged == Seq(("q_art", 11.0, 5.0)))
    assert(Bench.regressions(
      Seq("q_art" -> 9.0), coldBase, Bench.ColdFactor, Bench.ColdFloorSec)
      .isEmpty, "sub-2x cold drift must not flag")
  }

  test("hostFactor is the median now/committed ratio over usable controls") {
    val base = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 0.5, "q_dead" -> 0.0)
    // q_fail (negative timing) and q_dead (no positive budget) are
    // excluded; ratios 1.5, 1.0, 2.0 -> sorted (1.0, 1.5, 2.0), median 1.5
    val controls = Seq(
      "q_a" -> 1.5, "q_b" -> 2.0, "q_c" -> 1.0,
      "q_fail" -> -1.0, "q_dead" -> 3.0)
    assert(Bench.hostFactor(controls, base).contains(1.5))
    // even count takes the upper-middle (conservative)
    assert(Bench.hostFactor(
      Seq("q_a" -> 1.0, "q_b" -> 4.0), base).contains(2.0))
    // nothing usable -> None (first recording, no gate reference)
    assert(Bench.hostFactor(Seq("q_fail" -> -1.0), base).isEmpty)
    assert(Bench.hostFactor(Seq.empty, base).isEmpty)
  }

  test("ControlPreference names exist in the registry and cover every tier artifact") {
    val registry = SparkEntry.queries.keySet
    assert(Bench.ControlPreference.forall(registry.contains))
    // each tier family must yield at least 2 controls after the
    // preference filter, or the factor degenerates to one noisy query
    val docs = SparkEntry.families("docs")
    val heavy = SparkEntry.families("heavy")
    assert(Bench.ControlPreference.count(docs.contains) >= 2)
    assert(Bench.ControlPreference.count(heavy.contains) >= 2)
  }

  test("regressions flags >2x above the floor, ignores sub-floor and improvements") {
    val base = Map("q_slow" -> 1.0, "q_tiny" -> 0.05, "q_fast" -> 1.0)
    val now = Seq(
      "q_slow" -> 2.5, // 2.5x, above floor -> flagged
      "q_tiny" -> 0.2, // 4x but under 0.3s floor -> noise, not flagged
      "q_fast" -> 0.4, // improvement -> not flagged
      "q_new" -> 9.0)  // not in baseline -> cannot gate
    val r = Bench.regressions(now, base)
    assert(r == Seq(("q_slow", 2.5, 1.0)))
  }

  test("mergeBaseline can only tighten the committed budget (r08 upward-ratchet fix)") {
    val prior = Map("q_inflated" -> 1.5, "q_improved" -> 2.0, "q_zero" -> 0.0)
    val now = Seq(
      "q_inflated" -> 4.6,  // same-process spike under no gate -> prior kept
      "q_improved" -> 0.8,  // genuine win -> new, lower number kept
      "q_failed" -> -1.0,   // failure marker passes through untouched
      "q_new" -> 3.0,       // not in prior -> first recording stands
      "q_zero" -> 0.7)      // non-positive prior is no budget -> new stands
    val merged = Bench.mergeBaseline(now, prior).toMap
    assert(merged == Map(
      "q_inflated" -> 1.5, "q_improved" -> 0.8, "q_failed" -> -1.0,
      "q_new" -> 3.0, "q_zero" -> 0.7))
    // Idempotent: persisting the merged file and merging again is a no-op.
    val again = Bench.mergeBaseline(merged.toSeq, merged.filter(_._2 > 0))
    assert(again.toMap == merged)
  }

  test("mergeBaseline preserves prior-only entries (subset persist cannot truncate an artifact)") {
    // ADVICE r12: ONLY=q_b persisted into an existing multi-entry
    // artifact (e.g. bench_sf40.json) must refresh q_b and keep the
    // untimed entries, not truncate the artifact to the subset.
    val prior = Map("q_a" -> 1.0, "q_b" -> 2.0, "q_c" -> 3.0, "q_dead" -> -1.0)
    val merged = Bench.mergeBaseline(Seq("q_b" -> 1.5), prior)
    // prior-only entries survive INCLUDING the failed marker — losing
    // q_dead would erase the record that it exists-but-failed
    assert(merged.toMap == Map(
      "q_a" -> 1.0, "q_b" -> 1.5, "q_c" -> 3.0, "q_dead" -> -1.0))
    // timed entries lead (driver-visible order), preserved tail sorted
    assert(merged.head == ("q_b" -> 1.5))
  }

  test("totalCreepWarning fires on many small drifts, not on healthy or per-query-flagged runs") {
    val base = Map("q_a" -> 10.0, "q_b" -> 10.0, "q_c" -> 10.0)
    // healthy: under the 1.15x soft threshold
    assert(Bench.totalCreepWarning(
      Seq("q_a" -> 10.5, "q_b" -> 11.0, "q_c" -> 10.0), base).isEmpty)
    // creep: every query +20-30%, none near the 2x per-query gate
    val w = Bench.totalCreepWarning(
      Seq("q_a" -> 12.5, "q_b" -> 13.0, "q_c" -> 12.0), base)
    assert(w.exists(_.contains("aggregate creep")), s"expected warning, got $w")
    // failed entries and baseline-missing queries are excluded
    assert(Bench.totalCreepWarning(
      Seq("q_a" -> -1.0, "q_new" -> 100.0, "q_b" -> 10.0), base).isEmpty)
  }

  test("corpus reuse requires every table's _SUCCESS marker (r15 advice: no partial-build serve)") {
    val dir = Files.createTempDirectory("corpus").toString
    def mark(table: String): Unit = {
      val d = new java.io.File(s"$dir/$table.parquet")
      d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile(): Unit
    }
    assert(!ScaleSmoke.corpusComplete(dir, docsOnly = true),
      "an empty dir must not be reusable")
    mark("documents")
    // a crashed generator: documents committed, embeddings absent
    assert(!ScaleSmoke.corpusComplete(dir, docsOnly = true),
      "a partial build (missing embeddings) must not be reusable")
    // present but UNCOMMITTED table (no _SUCCESS — the mid-write crash)
    new java.io.File(s"$dir/embeddings.parquet").mkdirs()
    assert(!ScaleSmoke.corpusComplete(dir, docsOnly = true),
      "an uncommitted table dir must not be reusable")
    mark("embeddings")
    assert(ScaleSmoke.corpusComplete(dir, docsOnly = true))
    // the full-corpus check needs the relational tables too
    assert(!ScaleSmoke.corpusComplete(dir, docsOnly = false))
    Seq("lineitem", "part", "supplier", "region", "events", "orders",
      "customer", "nation").foreach(mark)
    assert(ScaleSmoke.corpusComplete(dir, docsOnly = false))
  }

  test("tier presets are the one-command scale gates (r13 #6)") {
    // sf40: the heavy tail at the 40x corpus, min-of-2, persisted+gated
    // against bench_sf40.json
    val t40 = Bench.tierOf("sf40")
    assert(t40 == Bench.Tier(40, "/tmp/graft_sfbig_40x", "bench_sf40.json",
      2, Some("@heavy")))
    // sf1: the full-registry breadth tier at the mult-100 corpus,
    // one-shot, persisted+gated against bench_sf1.json
    val t1 = Bench.tierOf("sf1")
    assert(t1 == Bench.Tier(100, "/tmp/graft_sfbig_100x", "bench_sf1.json",
      1, None))
    // docs1000: the document-scaled dedup/ANN tier at the 500k-doc
    // docs-only corpus, one-shot, persisted+gated against
    // bench_docs1000.json (r14 verdict #1)
    val td = Bench.tierOf("docs1000")
    assert(td == Bench.Tier(1000, "/tmp/graft_docs_1000x",
      "bench_docs1000.json", 1, Some("@docs"), docsOnly = true))
    // docs2000: the 1M-doc tier gating the r17 stretch size (r18) —
    // docs1000 mechanics verbatim at mult 2000
    val td2 = Bench.tierOf("docs2000")
    assert(td2 == Bench.Tier(2000, "/tmp/graft_docs_2000x",
      "bench_docs2000.json", 1, Some("@docs"), docsOnly = true))
    // each tier's selection must parse for its preset to select anything
    assert(SparkEntry.select("@heavy") == SparkEntry.families("heavy"))
    assert(Seq(t40, td, td2).flatMap(_.selection).forall(SparkEntry.select(_).nonEmpty))
    // a typo fails loudly, not as an accidental sf0.1 full run
    assertThrows[IllegalArgumentException](Bench.tierOf("sf2"))
  }

  test("floor selection: docs tiers run docsFloors, sf40 its own floors, sf1 none") {
    val tiers = Seq("sf40", "sf1", "docs1000", "docs2000")
    assert(tiers.map(t => Bench.floorsOf(t).map(_._1)) ===
      Seq(Some("sf40"), None, Some("docs-tier"), Some("docs-tier")))
    assert(Bench.floorsOf("sf2").isEmpty)
  }

  test("a corpus away from the tier's own dir is foreign (floors skipped, no persist)") {
    Seq("sf40", "sf1", "docs1000", "docs2000").map(Bench.tierOf).foreach { t =>
      assert(!Bench.foreignCorpus(t, t.sfDir))
      // the canonical-path rule: an alias of the tier's own dir is not
      // foreign, so it cannot dodge the floors and still persist
      val alias = s"${t.sfDir}/../${new java.io.File(t.sfDir).getName}"
      assert(!Bench.foreignCorpus(t, alias), alias)
      assert(Bench.foreignCorpus(t, "/tmp/graft_some_other_corpus"))
    }
  }

  test("pruneStale drops registry-orphaned entries on full runs only (ADVICE r13)") {
    val prior = Map("q_live" -> 1.0, "q_renamed_away" -> 2.0, "q_deleted" -> -1.0)
    val registry = Set("q_live", "q_other")
    // full run: the registry is authoritative — orphans (including
    // failed markers) are dropped, so a renamed query's old entry
    // cannot persist in the artifact forever
    assert(Bench.pruneStale(prior, registry, fullRun = true) ==
      Map("q_live" -> 1.0))
    // subset run: "deleted" is indistinguishable from "not selected" —
    // never prune
    assert(Bench.pruneStale(prior, registry, fullRun = false) == prior)
  }

  test("uncovered reports baseline gaps so a partial baseline cannot silently shrink the gate") {
    val base = Map("q_b" -> 1.0, "q_c" -> 1.0)
    assert(Bench.uncovered(base, Seq("q_c", "q_a", "q_b", "q_d")) == Seq("q_a", "q_d"))
    assert(Bench.uncovered(base, Seq("q_b", "q_c")).isEmpty)
  }

  test("families mirror the registry exactly — every query in exactly one family") {
    // "heavy" and "docs" are the declared CROSS-CUTTING overlays (the
    // 40× and 500k-doc bench selections, BASELINE.md §r12/§r15) —
    // every other family partitions the registry by module.
    val (overlays, modules) =
      SparkEntry.families.partition(f => f._1 == "heavy" || f._1 == "docs")
    val all = modules.values.toSeq
    val union = all.flatten.toSet
    assert(union == SparkEntry.queries.keySet,
      s"families/registry drift: only-in-families=${union -- SparkEntry.queries.keySet} " +
        s"only-in-registry=${SparkEntry.queries.keySet -- union}")
    assert(all.map(_.size).sum == union.size, "a query appears in two module families")
    overlays.foreach { case (name, qs) =>
      assert(qs.subsetOf(SparkEntry.queries.keySet),
        s"overlay family $name names unknown queries: ${qs -- SparkEntry.queries.keySet}")
    }
  }

  test("SparkEntry.select: names, @family and @scale union; typos fail loudly") {
    // perfbench's registry_floor form: a plain comma list selects
    // exactly its names
    assert(SparkEntry.select("q_topk,q_distinct") == Set("q_topk", "q_distinct"))
    assert(SparkEntry.select(" q_topk , ,q_topk") == Set("q_topk"))
    val sim = SparkEntry.select("@similarity")
    assert(sim.contains("q_minhash_est") && !sim.contains("q_pagerank"))
    assert(SparkEntry.select("q_pagerank,@similarity") == sim + "q_pagerank")
    assert(SparkEntry.select("@scale") == SparkEntry.scaleSensitive)
    Seq("@similarty", "q_nope", "q_topk,q_nope", " , ", "", "@").foreach { spec =>
      intercept[IllegalArgumentException](SparkEntry.select(spec))
    }
    val e = intercept[IllegalArgumentException](SparkEntry.select("q_topk,q_tpok"))
    assert(e.getMessage.contains("q_tpok"))
  }

  test("docs tiers >= 2M docs pre-flight the driver heap, naming the knob (r19 #6)") {
    // the 2.5M-doc stretch OOM'd the default 8g heap mid-stage; the
    // pre-flight must refuse in milliseconds with SPARK_DRIVER_MEM
    // named, and must not trip smaller tiers or genuine 32g heaps
    val e = intercept[IllegalArgumentException](
      ScaleSmoke.requireHeapFor(5000, docsOnly = true, heapBytes = 8L << 30))
    assert(e.getMessage.contains("SPARK_DRIVER_MEM=32g"))
    // threshold is 24 GiB, not a literal 32: JVM maxMemory
    // under-reports -Xmx (survivor reservation) — a real 32g JVM
    // reporting ~30 GiB must pass
    ScaleSmoke.requireHeapFor(5000, docsOnly = true, heapBytes = 30L << 30)
    // below the 2M-doc cliff, or non-docs tiers: any heap is fine
    ScaleSmoke.requireHeapFor(2000, docsOnly = true, heapBytes = 8L << 30)
    ScaleSmoke.requireHeapFor(5000, docsOnly = false, heapBytes = 8L << 30)
  }

  test("launch guard is 1.3x for the sf1 tier only (r19 #2)") {
    assert(Bench.launchGuardLimit(Some(Bench.tierOf("sf1"))).contains(1.3))
    assert(Bench.launchGuardLimit(Some(Bench.tierOf("sf40"))).isEmpty)
    assert(Bench.launchGuardLimit(Some(Bench.tierOf("docs1000"))).isEmpty)
    assert(Bench.launchGuardLimit(None).isEmpty)
  }
}
