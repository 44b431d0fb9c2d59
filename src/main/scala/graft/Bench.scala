package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark main: per-query wall time on SPARK_GRAFT_SF_DIR, one JSON
  * line on stdout for the driver's BENCH_r{N}.json.
  *
  * Each query gets one warm-up run (session/JIT/IO-cache warm), then
  * the MIN of 3 timed runs (a tier's `iters`) is reported — the
  * one-shot cold number swung 1.9x between identical binaries (VERDICT
  * r02), so min-of-3 is the signal, not the noise. A failing query
  * prints its error and fails the whole bench (exit 1) instead of
  * silently scoring -1.
  *
  * The line also carries a `"cold"` object (r21): per-query
  * FIRST-invocation seconds, i.e. the untimed warm-up the min-of-N
  * protocol excludes — where every persisted artifact's build cost
  * lives. It is gated (ColdFactor/ColdFloorSec) against the baseline
  * artifact's committed colds so a build-path regression can no
  * longer hide in the warm-up (r20 verdict #2).
  *
  * Evaluation is forced through the `noop` sink, not `count()`:
  * Catalyst prunes unreferenced projections under a count, so a count
  * harness times scan+count for projection-only queries (the r03 bench
  * under-measured q_text_bpe/q_rolling_hash/q_window_* that way). The
  * noop sink fully evaluates and serializes every output row, then
  * discards it — honest per-query cost, no disk noise.
  */
object Bench {
  private[graft] def force(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One bench record — the stdout line and every persisted
    * `bench_*.json` — written and read through Jackson.
    * `queries` holds min-of-N warm seconds (-1 = failed) and `cold`
    * first-invocation seconds, each in line order; records from before
    * the cold field read with none. `total` sums the non-failed
    * queries. */
  private[graft] final case class Record(
      cold: Seq[(String, Double)], queries: Seq[(String, Double)],
      sf: String, failed: Int) {
    def total: Double = queries.collect { case (_, t) if t >= 0 => t }.sum

    /** The one-line JSON form, keys in the order the line has always
      * had: metric, value, unit, cold, queries, sf, failed. */
    def toJson: String = {
      val o = Record.mapper.createObjectNode()
        .put("metric", "total").put("value", total).put("unit", "sec")
      Seq("cold" -> cold, "queries" -> queries).foreach { case (key, times) =>
        val m = o.putObject(key)
        times.foreach { case (n, t) => m.put(n, t) }
      }
      Record.mapper.writeValueAsString(o.put("sf", sf).put("failed", failed))
    }
  }

  private[graft] object Record {
    private val mapper = new ObjectMapper()

    /** Read a record Bench wrote. Anything else fails naming the file:
      * a round's BENCH_r{N}.json keeps only a FRONT-truncated copy of
      * the line in its `tail` (r05 lost 8 queries, r21 kept 73 of 219),
      * so a gate that read it would silently check a fraction of the
      * registry. */
    def read(path: String): Record = {
      val root =
        try mapper.readTree(new java.io.File(path))
        catch {
          case e: java.io.IOException => throw new IllegalArgumentException(
            s"$path is not a bench record: ${e.getMessage}", e)
        }
      require(root != null && root.path("metric").asText == "total" &&
        root.path("queries").isObject && root.path("sf").isTextual,
        s"$path is not a bench record written by graft.Bench (a round's " +
          "BENCH_r*.json only carries a truncated copy of one in its tail); " +
          "point at a bench_*.json instead")
      def times(key: String): Seq[(String, Double)] =
        root.path(key).properties.iterator.asScala
          .map(e => e.getKey -> e.getValue.asDouble).toSeq
      Record(times("cold"), times("queries"), root.get("sf").asText,
        root.path("failed").asInt)
    }
  }

  /** Cold-run regression thresholds: first-invocation times carry
    * one-shot JIT/codegen and every persisted artifact's build, so the
    * floor sits at 2s — at sf0.1 only the genuinely artifact-backed
    * colds clear it, while at the docs tiers (builds of 10-35s) the
    * gate bites exactly where the r20 verdict wanted it: a build-path
    * regression can no longer hide in the untimed warm-up. */
  private[graft] val ColdFactor = 2.0
  private[graft] val ColdFloorSec = 2.0

  /** Names the gate CANNOT check because the baseline lacks them —
    * either genuinely new queries (fine) or a baseline recorded by a
    * subset run. Surfaced loudly in main so a partial baseline can
    * never quietly narrow the gate.
    */
  private[graft] def uncovered(base: Map[String, Double], names: Seq[String]): Seq[String] =
    names.filterNot(base.contains).sorted

  /** Regression gate: queries slower than 2x the baseline AND above an
    * absolute floor (sub-0.3s timings are harness noise at this scale).
    * Only meaningful against a SAME-HARNESS baseline (noop sink,
    * r04 onward) — comparing to an r01-r03 count() file is fiction.
    */
  private[graft] def regressions(
      now: Seq[(String, Double)],
      base: Map[String, Double],
      factor: Double = 2.0,
      floorSec: Double = 0.3): Seq[(String, Double, Double)] =
    now.collect {
      case (name, t) if t >= 0 && base.get(name).exists(b =>
        b > 0 && t > b * factor && t > floorSec) => (name, t, base(name))
    }

  /** Merge rule for the persisted baseline (r08 verdict #1): an
    * inflated first recording that stays UNDER the 2x retry threshold
    * sails past retry-confirm and becomes the committed budget —
    * 2x of an inflated entry then doubles next round's allowance (the
    * upward ratchet; r08 committed q_substr_dedup at 4.60s vs 1.56s
    * isolated). Persisting per-query min(new, prior-confirmed) means
    * the committed budget can only tighten; a genuine plan regression
    * still surfaces because the GATE compares live timings against the
    * tight prior, not against the inflated recording. Failed entries
    * (t<0) and queries absent from the prior pass through unchanged.
    *
    * Prior entries absent from `now` are PRESERVED (union, not
    * map-over-now): a narrowed run persisted into an existing
    * multi-entry artifact (e.g. SPARK_GRAFT_BENCH_OUT=bench_sf40.json
    * with ONLY=q_pagerank) must refresh only the queries it actually
    * timed, never silently truncate the artifact's committed entry set
    * to the subset (ADVICE r12 — the canonical-path guard protects
    * only bench_local.json).
    */
  private[graft] def mergeBaseline(
      now: Seq[(String, Double)],
      prior: Map[String, Double]): Seq[(String, Double)] = {
    val nowNames = now.map(_._1).toSet
    now.map { case (name, t) =>
      name -> prior.get(name).filter(_ > 0)
        .fold(t)(p => if (t >= 0) math.min(t, p) else t)
    } ++ prior.toSeq.collect {
      // preserve failed markers (negative) too — the record that a
      // query exists-but-failed must survive a narrowed refresh
      case (name, p) if !nowNames.contains(name) => (name, p)
    }.sortBy(_._1)
  }

  /** Aggregate-creep soft warning (r15 verdict #5): the per-query gate
    * only fires at >2× per query, so a run where MANY queries drift
    * 10-50% passes silently while the tier total climbs round over
    * round (observed: sf1 249.4s → 267.3s with zero per-query flags).
    * When the measured total over the gated queries exceeds the
    * committed baseline total by `factor`, surface it loudly — a
    * WARNING, not an exit code: totals are noisier than per-query
    * minimums and the min-merge ratchet already protects the budget.
    */
  private[graft] def totalCreepWarning(
      now: Seq[(String, Double)], base: Map[String, Double],
      factor: Double = 1.15): Option[String] = {
    val shared = now.filter { case (n, t) => t >= 0 && base.get(n).exists(_ > 0) }
    val nowTotal = shared.map(_._2).sum
    val baseTotal = shared.map { case (n, _) => base(n) }.sum
    if (baseTotal > 0 && nowTotal > baseTotal * factor)
      Some(f"[bench] WARNING aggregate creep: ${shared.size} gated queries " +
        f"total $nowTotal%.1fs vs committed $baseTotal%.1fs " +
        f"(${nowTotal / baseTotal}%.2fx > $factor%.2fx soft threshold, " +
        "no per-query >2x flags) — many small drifts, inspect before they compound")
    else None
  }

  /** Host-speed control queries (r18 verdict #4): the bimodal bench
    * host cost three sf1 attempts and two docs-tier attempts across
    * r16-r18, each diagnosed by HAND-timing an unchanged-code query
    * (the judge's q_distinct-at-2.24x call). This pins that evidence
    * into the harness: before the main pass, Bench times the first 3
    * preference-listed controls that exist in the registry AND have a
    * committed budget in the gate reference, and prints a host-speed
    * factor (median of now/committed). The factor ANNOTATES regression
    * flags — it never excuses them (a flagged query still exits 2; the
    * human reads the factor when deciding whether to re-run in a
    * quieter window). Preference order favors stable, rarely-edited
    * queries with entries in every tier artifact (docs tiers lack the
    * relational tables, so q_distinct falls through to the dedup-family
    * controls there) and SPANS SIZES — the bimodal host hits sub-second
    * queries hardest (fixed per-job latency), so an all-tiny control
    * set would read a representative window as catastrophic; mixing a
    * sub-second control with multi-second ones makes the median track
    * what the gated queries actually experience.
    */
  private[graft] val ControlPreference: Seq[String] = Seq(
    "q_distinct", "q_simhash", "q_ngram_jaccard", "q_dedup",
    "q_minhash_lsh", "q_cosine_topk", "q_topk")

  /** Median of now/committed over the control timings (upper-middle
    * for even counts — conservative on a 2-entry set). None when no
    * control has both a positive timing and a committed budget. */
  private[graft] def hostFactor(
      controls: Seq[(String, Double)],
      base: Map[String, Double]): Option[Double] = {
    val ratios = controls.collect {
      case (n, t) if t > 0 && base.get(n).exists(_ > 0) => t / base(n)
    }.sorted
    if (ratios.isEmpty) None else Some(ratios(ratios.size / 2))
  }

  /** Append lines to a telemetry log, dropping them (with a stderr
    * note) on IO failure — telemetry must never fail a run. */
  private def appendLog(path: String, lines: Seq[String]): Unit =
    if (lines.nonEmpty) try {
      val w = new java.io.FileWriter(path, true)
      try lines.foreach(l => w.write(l + "\n")) finally w.close()
    } catch {
      case e: java.io.IOException => System.err.println(
        s"[bench] WARNING: log $path unwritable (${e.getMessage}) — entry dropped")
    }

  /** On a FULL run the registry is authoritative: prior baseline
    * entries whose query no longer exists (renamed/deleted) would
    * otherwise persist in the artifact forever — mergeBaseline
    * union-preserves them and uncovered() only reports the OPPOSITE
    * direction (ADVICE r13). Subset runs can't tell "deleted" from
    * "not selected", so they never prune. */
  private[graft] def pruneStale(
      prior: Map[String, Double], registry: Set[String],
      fullRun: Boolean): Map[String, Double] =
    if (!fullRun) prior
    else {
      val stale = prior.keySet -- registry
      if (stale.nonEmpty)
        System.err.println(
          s"[bench] pruning ${stale.size} stale baseline entries no longer " +
            s"in the registry: ${stale.toSeq.sorted.mkString(", ")}")
      prior -- stale
    }

  /** A scale-tier preset (r13 verdict #6): one env var
    * (`SPARK_GRAFT_BENCH_TIER=sf40|sf1`) turns a tier re-bench into
    * ONE mechanical command — corpus dir (auto-built via
    * [[ScaleSmoke.ensureCorpus]] when missing), persisted artifact,
    * iteration count, query selection (a [[SparkEntry.select]] spec),
    * and the regression gate against the artifact's own committed
    * budgets all default together, where the r13 recipes needed two
    * commands and a hand-set baseline. `SPARK_GRAFT_SF_DIR`,
    * `SPARK_GRAFT_BENCH_OUT` and `SPARK_GRAFT_BENCH_BASELINE` override
    * their preset field; `SPARK_GRAFT_BENCH_ONLY` adds to the
    * selection. */
  private[graft] final case class Tier(
      mult: Int, sfDir: String, out: String, iters: Int,
      selection: Option[String], docsOnly: Boolean = false)

  private[graft] def tierOf(name: String): Tier = name match {
    // sf40: the 20-query heavy tail at the 40× corpus (BASELINE.md §r11)
    case "sf40" => Tier(40, ScaleSmoke.corpusDir(40), "bench_sf40.json", 2,
      Some("@heavy"))
    // sf1: full-registry breadth at the mult-100 corpus (BASELINE.md §r13)
    case "sf1" => Tier(100, ScaleSmoke.corpusDir(100), "bench_sf1.json", 1,
      None)
    // docs1000: the document-scaled tier (r14 verdict #1) — 500k docs /
    // 500k×64 embeddings, documents+embeddings ONLY (the quadratic
    // dedup/ANN hazards grow with document count; this is 10× sf1's
    // docs at none of its relational cost). The tier that caught all
    // three r14 scale cliffs, now a one-command gated artifact.
    case "docs1000" => Tier(1000, ScaleSmoke.docsCorpusDir(1000),
      "bench_docs1000.json", 1, Some("@docs"), docsOnly = true)
    // docs2000: the 1M-doc tier (r18, gating the r17 stretch once the
    // q_semantic_dedup n^1.5 fix landed) — same mechanics as docs1000,
    // so an n^1.5-class regression in the dedup/ANN families can never
    // re-enter silently between rounds.
    case "docs2000" => Tier(2000, ScaleSmoke.docsCorpusDir(2000),
      "bench_docs2000.json", 1, Some("@docs"), docsOnly = true)
    case other => throw new IllegalArgumentException(
      s"unknown bench tier '$other' (known: sf40, sf1, docs1000, docs2000)")
  }

  /** The accuracy floors a tier gates on, with their log label: the
    * docs tiers check the docs generator's planted dedup and twin
    * structure, sf40 the ANN, KMV and beam-maintenance checks of the
    * 40× corpus. sf1 has none: its 100× corpus breaks the beam
    * pair-mass bounds, which hold only at 40×. */
  private[graft] def floorsOf(tier: String)
      : Option[(String, (org.apache.spark.sql.SparkSession, String) => Seq[String])] = tier match {
    case "docs1000" | "docs2000" => Some("docs-tier" -> ScaleSmoke.docsFloors)
    case "sf40" => Some("sf40" -> ScaleSmoke.sf40Floors)
    case _ => None
  }

  /** Whether `sfDir` is not the tier's own generator-built corpus, by
    * CANONICAL path (ADVICE r17 medium: the env var pointed at the
    * tier's own dir used to skip the floors while requireSameSf still
    * let the run ratchet the committed budget). Floors assume the
    * generator's planted structure, so a foreign corpus skips them, and
    * a skipped-floors run does not persist. */
  private[graft] def foreignCorpus(t: Tier, sfDir: String): Boolean =
    new java.io.File(sfDir).getCanonicalFile != new java.io.File(t.sfDir).getCanonicalFile

  /** The census log a run appends its `[bucket-census]` and
    * `[host-speed]` lines to (r17 verdict #8), so skew growth is
    * tracked in-repo round-over-round: only a docs tier on its OWN
    * corpus, by [[foreignCorpus]]' canonical-path test (ADVICE r18) —
    * a foreign SPARK_GRAFT_SF_DIR run is non-persisting and must not
    * pollute the committed skew telemetry either. */
  private[graft] def censusLogOf(tier: Option[Tier], sfDir: String): Option[String] =
    tier.filter(t => t.docsOnly && !foreignCorpus(t, sfDir)).map(_ => "docs/census_log.md")

  /** Launch-guard threshold for a run (r19 verdict #2): only the sf1
    * tier (the one whose full-registry pass costs ~5 min per rejected
    * attempt) refuses to start above the 1.3× host factor the four
    * rejected r16–r19 windows converged on. */
  private[graft] def launchGuardLimit(tier: Option[Tier]): Option[Double] =
    tier.filter(_.out == "bench_sf1.json").map(_ => 1.3)

  /** A persist target may only min-merge runs at ITS OWN scale factor:
    * merging a different-sf run would ratchet the artifact's budgets
    * to the smaller corpus's times forever (one forgotten
    * SPARK_GRAFT_SF_DIR would corrupt bench_sf40.json downward, and
    * the ratchet can never recover upward). */
  private def requireSameSf(path: String, sfDir: String): Option[Record] =
    readIfExists(path).map { prior =>
      require(prior.sf == sfDir,
        s"$path was recorded at sf '${prior.sf}' but this run is at '$sfDir' — " +
          "min-merging across scale factors would corrupt the budget; " +
          "point SPARK_GRAFT_BENCH_OUT elsewhere or fix SPARK_GRAFT_SF_DIR")
      prior
    }

  private def readIfExists(path: String): Option[Record] =
    Option.when(new java.io.File(path).exists)(Record.read(path))

  /** The gate baseline a run was given, refusing one with no per-query
    * entries: gating against it would be a silent no-op. */
  private[graft] def loadBaseline(path: String): Record = {
    val base = Record.read(path)
    require(base.queries.nonEmpty, s"baseline $path holds zero per-query entries")
    base
  }

  def main(args: Array[String]): Unit = {
    val tierName = sys.env.get("SPARK_GRAFT_BENCH_TIER")
    val tier = tierName.map(tierOf)
    val sfDir = sys.env.get("SPARK_GRAFT_SF_DIR")
      .orElse(tier.map(_.sfDir)).getOrElse("/root/testdata/sf0.1")
    // The census lines the queries recorded (VectorQueries.censusLog)
    // reach the log in run order: those computed before the host-speed
    // line with it, the rest before any exit.
    val censusFile = censusLogOf(tier, sfDir)
    var censusLogged = 0
    def appendCensus(extra: String*): Unit = censusFile.foreach { p =>
      val lines = similarity.VectorQueries.censusLog
      appendLog(p, lines.drop(censusLogged) ++ extra)
      censusLogged = lines.size
    }
    val iters = tier.fold(3)(_.iters)
    // Subsets in SparkEntry.select's grammar, e.g.
    // SPARK_GRAFT_BENCH_ONLY=q_lang_id,@graph; a tier's own selection
    // is unioned in.
    val only = (sys.env.get("SPARK_GRAFT_BENCH_ONLY") ++ tier.flatMap(_.selection))
      .reduceOption(_ + "," + _).map(SparkEntry.select)
    val outEnv = sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(tier.map(_.out))
    // Pre-flight the persist target's scale factor BEFORE paying for
    // the timing run: min-merging a different-sf run into an existing
    // artifact would ratchet its budgets to the smaller corpus forever
    // (the same check guards the write below; here it just fails in
    // seconds instead of after minutes of measurement).
    outEnv.foreach(requireSameSf(_, sfDir))
    val spark = util.GraftSession.build("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // A tier run IS a scale-audit run: the per-invocation round census
    // (labelComponents convergence etc.) that SCALE.md's workflow
    // records logs on the `graft` logger at INFO (ADVICE r17).
    tier.foreach(_ => org.apache.logging.log4j.core.config.Configurator
      .setLevel("graft", org.apache.logging.log4j.Level.INFO))
    // Tier corpora are synthetic and reproducible — a missing dir
    // regenerates (deterministic generator, seed 1) instead of failing
    // the recipe's first step. An explicit SPARK_GRAFT_SF_DIR is the
    // caller's own corpus; never second-guess it.
    tier.foreach { t =>
      // heap pre-flight BEFORE corpus build/warm-up (r19 verdict #6) —
      // a ≥2M-doc tier on the default heap dies mid-stage after
      // minutes of work; fail in milliseconds naming the knob instead
      ScaleSmoke.requireHeapFor(t.mult, t.docsOnly)
      if (sys.env.get("SPARK_GRAFT_SF_DIR").isEmpty) ScaleSmoke.ensureCorpus(spark, t)
    }

    var failed = List.empty[String]
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Baseline loads BEFORE timing so first-pass suspects can be
    // retry-confirmed below, and so a bad path fails fast. Under a
    // TIER the artifact's own committed budgets are the default gate
    // (that is what makes the tier run mechanical — regressions exit
    // 2 with no extra flags); a first-ever tier run has no artifact
    // and records ungated, like any first recording.
    val baseline = sys.env.get("SPARK_GRAFT_BENCH_BASELINE")
      .orElse(tier.map(_.out).filter(p => new java.io.File(p).exists))
      .map { p =>
        val base = loadBaseline(p)
        val missing = uncovered(base.queries.toMap, selected.map(_._1))
        if (missing.nonEmpty)
          System.err.println(
            s"[bench] WARNING: baseline $p lacks ${missing.size}/${selected.size} " +
              s"selected queries — these are NOT gated: ${missing.mkString(", ")}")
        base
      }
    val baseOpt = baseline.map(_.queries.toMap)
    // Retry-confirm reference, resolved once: the gate baseline if any,
    // else the committed bench_local.json beside the build. Every round a
    // one-shot run flagged a >2x that min-of-3 later cleared (r05 x2,
    // r09 q_pagerank at 2.26x vs 1.21x isolated); wiring the committed
    // budget in as the DEFAULT retry reference makes the bench
    // self-correcting — a mid-run spike gets an isolated re-time and
    // the min is what's reported — without changing the exit-code
    // contract (the regression GATE below fires only against a gate
    // baseline). It also feeds the warm-up and the host-speed controls.
    val reference = baseline.orElse(
      readIfExists("bench_local.json").filter(_.queries.nonEmpty))
    val retryRef = reference.map(_.queries.toMap)
    // Warm-up beyond the per-query one: execute the historically
    // slowest selected queries once before ANY timing, so the first
    // heavy queries of the run don't pay one-time JVM/codegen/IO-cache
    // costs that read as regressions (r09 driver flag). Bounded to 3
    // queries and logged; a missing reference file just skips it.
    retryRef.foreach { ref =>
      val warm = selected.filter { case (n, _) => ref.getOrElse(n, 0.0) > 0 }
        .sortBy { case (n, _) => -ref(n) }.take(3)
      warm.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        try {
          force(fn(spark, sfDir))
          System.err.println(
            f"[bench] WARMUP $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        } catch {
          case e: Throwable => // timing pass reports the real failure
            System.err.println(s"[bench] WARMUP $name failed: ${e.getMessage}")
        }
      }
    }
    // First-invocation (cold) seconds per query, keyed on the FIRST
    // time() call so a retry-confirm's already-warm pre-run can't
    // overwrite the honest cold number. For the 3 pre-warmed slowest
    // queries and the host controls the "cold" run is warm by protocol
    // — their entries under-read; everything else (including every
    // artifact build ridden by the warm-up) is captured.
    val coldOf = scala.collection.mutable.Map.empty[String, Double]
    def time(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      val c0 = System.nanoTime()
      force(fn(spark, sfDir)) // warm-up: plan + JIT + page cache
      coldOf.getOrElseUpdate(name, (System.nanoTime() - c0) / 1e9): Unit
      (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        force(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // Host-speed control pre-pass (r18 verdict #4) — see
    // [[ControlPreference]]. Runs against the same corpus with the same
    // harness, so the factor is committed-budget-relative, not an
    // absolute clock. Only meaningful when the reference artifact was
    // RECORDED at this run's corpus (r19: an ungated foreign-corpus
    // stretch run read its 2.5M-doc controls against sf0.1 budgets and
    // printed a 25× "host" factor — scale, not host); an sf mismatch
    // skips the pre-pass entirely, which also skips controls whose
    // tables don't exist in a docs-only corpus. Controls must also be
    // IN the selected set (ADVICE r19, second option): a targeted
    // SPARK_GRAFT_BENCH_ONLY=q_x iteration run doesn't select any
    // control, so it pays nothing extra — while the docs/heavy TIER
    // family runs (which the factor was built for, r18 #4) keep their
    // pre-pass because the control queries are members of the family.
    val hostInfo: Option[(Double, String)] = retryRef
      .filter(_ => reference.exists(_.sf == sfDir))
      .flatMap { ref =>
      val names = ControlPreference
        .filter(n => SparkEntry.queries.contains(n) &&
          ref.get(n).exists(_ > 0) && only.forall(_.contains(n)))
        .take(3)
      val times = names.map { n =>
        n -> (try {
          // 3 untimed warms, min of 3: controls are sub-second queries
          // whose committed minimums come from deep-warm sessions — a
          // shallow-warm control would read session-cold codegen/JIT
          // as "slow host" on an idle machine
          (1 to 3).foreach(_ => force(SparkEntry.queries(n)(spark, sfDir)))
          (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            force(SparkEntry.queries(n)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }.min
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] CONTROL $n failed: ${e.getMessage}")
            -1.0
        })
      }
      hostFactor(times, ref).map { f =>
        val detail = times.map { case (n, t) =>
          f"$n $t%.2fs/${ref(n)}%.2fs" }.mkString(", ")
        (f, detail)
      }
    }
    hostInfo.foreach { case (f, detail) =>
      val line = f"[bench] host-speed factor $f%.2fx vs committed " +
        f"(controls: $detail)" + (if (f > 1.3)
          " — SLOW HOST WINDOW: timings below will read inflated; " +
            "flags are annotated, never excused" else "")
      System.err.println(line)
      appendCensus(f"[host-speed] factor $f%.2fx ($detail) sf=$sfDir")
      // Control-conditioned launch guard (r19 verdict #2): four sf1
      // attempts each burned ~5 min to an exit 2 on host factor alone
      // — an expensive way to learn the window is busy. When the
      // controls read slower than the tier's guard threshold, refuse
      // to START the timing pass: exit 4 ("host too slow to measure",
      // distinct from a regression's exit 2), artifacts untouched.
      // Applies only to the full-registry sf1 tier (the short tiers are
      // cheap enough to just run and reject).
      launchGuardLimit(tier).filter(f > _).foreach { lim =>
        System.err.println(
          f"[bench] LAUNCH GUARD: factor $f%.2fx > $lim%.2fx — refusing to " +
            "start the gated tier timing pass; re-attempt in a quiet window")
        spark.stop()
        sys.exit(4)
      }
    }
    val firstPass = selected.map { case (name, fn) =>
      try name -> time(name, fn)
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          failed ::= name
          name -> -1.0
      }
    }
    // Retry-confirm: an 80-query same-process run occasionally spikes a
    // sub-second query >2x from JVM/GC interference alone (r05 verdict:
    // q_fingerprint/q_hll_distinct on UNCHANGED code; reproduced r06 on
    // q_rolling_hash — isolated re-run was 1.4x). Re-time first-pass
    // suspects immediately and take the min — a REAL plan regression
    // reproduces under isolation; noise does not. The confirmed numbers
    // are also what's recorded, so the next round's baseline is cleaner.
    val results = retryRef.fold(firstPass) { base =>
      val suspects = regressions(firstPass, base).map(_._1).toSet
      firstPass.map { case (name, t) =>
        if (!suspects.contains(name) || t < 0) name -> t
        else {
          // A transient failure in the isolated re-run (OOM, flaky IO)
          // must not crash the whole bench — fall back to the
          // first-pass time, which then hits the gate as a regression.
          val t2 =
            try time(name, SparkEntry.queries(name))
            catch {
              case e: Throwable =>
                System.err.println(
                  s"[bench] RETIME of $name failed (${e.getMessage}); keeping first-pass time")
                t
            }
          System.err.println(
            f"[bench] RETIMED $name: first pass $t%.2fs, isolated $t2%.2fs")
          name -> math.min(t, t2)
        }
      }
    }
    // cold entries in the same (alphabetical) order as queries
    val cold = results.collect { case (n, _) if coldOf.contains(n) => n -> coldOf(n) }
    println(Record(cold, results, sfDir, failed.size).toJson)
    // Tier ACCURACY floors (r16 verdict #3, see [[floorsOf]]): the tier
    // gate fails on a planted-recall/completeness drop — not just a
    // time regression — so a change that narrows LSH width or breaks
    // candidate generation cannot pass the one command by being fast.
    // Floor failures also block the min-merge persist below (a wrong-
    // but-fast run must not ratchet the budget), and so does a run whose
    // floors were skipped on a [[foreignCorpus]]: the merge routes to
    // the .rejected side path, so the committed budget can only ratchet
    // under a floor-checked run.
    val floors = tierName.flatMap(floorsOf)
    val floorsSkipped = floors.isDefined && tier.exists(foreignCorpus(_, sfDir))
    val floorErrs = floors.toSeq.flatMap { case (label, run) =>
      if (floorsSkipped) {
        System.err.println(
          s"[bench] WARNING: $label accuracy floors SKIPPED — " +
            "SPARK_GRAFT_SF_DIR points away from the tier corpus and the " +
            "floors assume the generator's planted structure; this run " +
            "will NOT ratchet the committed tier budget")
        Nil
      } else {
        val errs =
          try run(spark, sfDir)
          catch { case e: Throwable => Seq(s"floor check crashed: ${e.getMessage}") }
        errs.foreach(m => System.err.println(s"[bench] FLOOR FAILED: $m"))
        errs
      }
    }
    spark.stop()
    appendCensus()

    // Per-query budget gate vs a previous same-harness round, e.g.
    // SPARK_GRAFT_BENCH_BASELINE=bench_local.json from the prior round
    // (protects the honest noop-sink numbers from silent plan
    // regressions). Only retry-confirmed regressions reach here.
    val regressed = baseOpt.toSeq.flatMap { base =>
      val r = regressions(results, base)
      r.foreach { case (name, now, b) =>
        System.err.println(
          f"[bench] REGRESSION $name: $now%.2fs vs baseline $b%.2fs (>2x, confirmed isolated)" +
            hostInfo.fold("")(h => f" [host-speed ${h._1}%.2fx]"))
      }
      // aggregate-creep soft warning (r15 verdict #5) — visible even
      // when no individual query trips the 2x gate
      totalCreepWarning(results, base).foreach(System.err.println)
      r
    }
    // Cold-run gate (r20 verdict #2): the artifact-backed family's
    // once-per-corpus build cost rides the untimed warm-up, so it is
    // gated HERE, against the baseline artifact's own committed cold
    // entries. No retry-confirm is possible (a second in-process run
    // is warm by construction), so the floor is the filter.
    val coldRegressed = baseline.map(_.cold.toMap).filter(_.nonEmpty)
      .toSeq.flatMap { coldBase =>
        val coldNow = results.collect {
          case (n, t) if t >= 0 && coldOf.contains(n) => n -> coldOf(n)
        }
        val r = regressions(coldNow, coldBase, ColdFactor, ColdFloorSec)
        r.foreach { case (name, now, b) =>
          System.err.println(
            f"[bench] COLD REGRESSION $name: warm-up $now%.2fs vs committed " +
              f"$b%.2fs (>${ColdFactor}%.0fx — a build/artifact path got slower; " +
              "the timed numbers below exclude it)" +
              hostInfo.fold("")(h => f" [host-speed ${h._1}%.2fx]"))
        }
        r
      }
    // Persist the builder's own COMPLETE per-query result in-repo so the
    // next round can gate against a full same-harness baseline instead
    // of a round's front-truncated `tail` (see [[Record.read]]). Subset
    // (ONLY) runs are partial by construction and must not overwrite it;
    // neither may a run with confirmed regressions or failures — else the
    // regressed timings become the next baseline and the budget ratchets
    // (the regressed line goes to a side path for inspection instead).
    // A subset run MAY persist to an EXPLICIT alternate artifact
    // (SPARK_GRAFT_BENCH_OUT pointing away from bench_local.json) —
    // that is how the 40× heavy-tail reference bench_sf40.json is
    // produced with one command (the sf40 tier, BASELINE.md §r12); the
    // full-run budget file itself stays protected from partial runs.
    // The protection compares CANONICAL paths (./bench_local.json and
    // an absolute alias must not bypass it and truncate the committed
    // 219-entry budget to the subset).
    val isBudgetFile = outEnv.forall(p =>
      new java.io.File(p).getCanonicalFile ==
        new java.io.File("bench_local.json").getCanonicalFile)
    if (only.isEmpty || !isBudgetFile) {
      val out = outEnv.getOrElse("bench_local.json")
      val target =
        if (failed.isEmpty && regressed.isEmpty && coldRegressed.isEmpty &&
          floorErrs.isEmpty && !floorsSkipped) out
        else out + ".rejected"
      // stdout keeps the honest measured numbers (the driver reads
      // them); the PERSISTED budget merges against the prior committed
      // baseline via [[mergeBaseline]] so it can only ratchet down.
      // Prior ALWAYS comes from the OUT artifact itself, never from
      // SPARK_GRAFT_BENCH_BASELINE: gating a 40x run against
      // bench_local.json (sf0.1) while persisting to bench_sf40.json
      // would otherwise union-copy every foreign-sf baseline entry into
      // the persisted artifact (ADVICE r13 medium) — requireSameSf only
      // validates the OUT file's recorded sf, not the baseline file's.
      // baseOpt stays what it is: the regression-GATE reference only.
      // The same scale-factor guard as the pre-flight in main() checks
      // the prior here.
      val prior = requireSameSf(out, sfDir)
      def merged(now: Seq[(String, Double)], priorTimes: Record => Seq[(String, Double)]) =
        mergeBaseline(now, pruneStale(prior.fold(Map.empty[String, Double])(priorTimes(_).toMap),
          SparkEntry.queries.keySet, fullRun = only.isEmpty))
      // cold budgets min-merge exactly like the warm ones (and prior-
      // only entries survive subset refreshes the same way)
      val record = Record(merged(coldOf.toSeq.sortBy(_._1), _.cold),
        merged(results, _.queries), sfDir, failed.size)
      val w = new java.io.PrintWriter(target, "UTF-8")
      try w.println(record.toJson) finally w.close()
    }
    if (failed.nonEmpty) sys.exit(1)
    if (regressed.nonEmpty || coldRegressed.nonEmpty) sys.exit(2)
    if (floorErrs.nonEmpty) sys.exit(3)
  }
}
