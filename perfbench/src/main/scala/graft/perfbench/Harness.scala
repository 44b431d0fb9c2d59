package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Q, SparkEntry}
import graft.ingest.Ndjson
import graft.pipeline.BulkPipeline
import graft.schemas.FhirSchemas
import graft.transform.FhirTransforms
import graft.util.{ArtifactCache, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Benchmark harness inside the engine's JVM. One closed-loop client: the
  * next flow or query starts only after the previous one returned.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <config.json> <result.json>
  *
  * The config (written by run.py) names the inputs: for `fhir_bulk` the
  * generator's expectations document, for `registry_floor` the corpus and
  * the selected query names. The result file holds the end-to-end
  * figures, the per-layer figures when traced, and any check failures.
  */
object Harness {

  val mapper = new ObjectMapper()
  val Noop = "noop"

  final class Outcome {
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = errors += what
    /** Runs one operation, counting it and keeping any exception. */
    def attempt[A](what: String)(f: => A): Option[A] = {
      attempted += 1
      try Some(f)
      catch { case e: Throwable =>
        failed += 1
        fail(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, configPath, resultPath) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val config = mapper.readTree(new java.io.File(configPath))

    // Set-up, three times: the reported figure is their median, so a
    // change that moves work into session start shows. Each set-up ends
    // with one fixed aggregate-and-join job, so the JVM's and Spark's own
    // first-use cost is paid here and not by whichever flow or query the
    // seed happens to put first.
    val sessionS = (1 to 3).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t = System.nanoTime()
      val s = GraftSession.build(s"perfbench-$workload")
      s.sparkContext.setLogLevel("ERROR")
      s.range(0, 200000).selectExpr("id % 101 AS k", "id AS v").groupBy("k").sum("v")
        .join(s.range(0, 101).withColumnRenamed("id", "k"), "k")
        .write.format(Noop).mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    gaugeHost()
    val spark = SparkSession.active
    val out = new Outcome
    val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    val (e2e, layers, perQuery, warmPasses) = workload match {
      case "fhir_bulk" =>
        val f = new FhirBulk(spark, config, seed, seconds, traced, out, runId)
        val (e, l) = f.run()
        (e, l, Map.empty[String, Any], f.warmPasses)
      case _ =>
        val r = new Registry(spark, config, seed, seconds, traced, out, runId)
        val (e, l) = r.run()
        (e, l, r.perQuery, r.warmPasses)
    }
    gaugeHost()
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    // Untimed output dump for the oracle check run.py makes afterwards;
    // Verify restricts itself to SPARK_GRAFT_VERIFY_ONLY, set by run.py.
    if (workload != "fhir_bulk")
      try graft.Verify.main(Array(config.get("corpus").asText, config.get("dump").asText))
      catch { case e: Throwable => out.fail(s"output dump threw ${e.getMessage}".take(400)) }
    val result = Map(
      "setup_session_s" -> sessionS, "attempted" -> out.attempted,
      "failed" -> out.failed, "errors" -> out.errors.toSeq, "e2e" -> e2e,
      "per_query_s" -> perQuery, "warm_passes_s" -> warmPasses, "host_gauge_s" -> hostGauge.toSeq,
      "layers" -> (layers ++ (if (traced) Map("spark.cached_mb" -> cachedMb) else Map.empty)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultPath), Json(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** After the cold pass, [[WarmUp]] untimed passes (or rounds) let JIT
    * compilation of the engine's hot paths settle: warm passes keep
    * getting faster for several passes, and a window that opened straight
    * after the cold pass would hold fewer of them on a slow host, so its
    * median would sit higher on that curve and exaggerate the slowdown.
    * Then the measured window opens. Warm passes keep starting until
    * `window` seconds have passed, and at least [[MinWarm]] run. A traced
    * run splits the window: its first half runs untraced passes, its
    * second half traced ones (at least [[MinTraced]]), and the overhead
    * compares the two. */
  val WarmUp = 2
  val MinWarm = 3
  val MinTraced = 2
  def warmWindow(seconds: Double, traced: Boolean): Double =
    if (traced) seconds / 2 else seconds

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Seconds for a fixed single-threaded sort that runs no engine code,
    * taken after set-up and after the timed passes. It only goes into the
    * run record: on a shared host the same code can run tens of percent
    * slower from one minute to the next, and this shows when it did. */
  val hostGauge = mutable.ArrayBuffer.empty[Double]
  def gaugeHost(): Unit = {
    val rnd = new java.util.SplittableRandom(42)
    val xs = Array.fill(2000000)(rnd.nextLong())
    val t = System.nanoTime()
    java.util.Arrays.sort(xs)
    hostGauge += (System.nanoTime() - t) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def clock[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t) / 1e9)
  }

  /** Worst-stage skew: in the stage holding the longest task, that
    * task's time over the stage's median task time. */
  def taskSkew(c: GroupCounts): Double =
    c.stageTaskMs.values.filter(_.nonEmpty).maxByOption(_.max)
      .map(ms => ms.max.toDouble / math.max(1.0, median(ms.map(_.toDouble).toSeq)))
      .getOrElse(1.0)

  /** The `spark.*` layer over one set of spans, per pass. */
  def sparkLayer(tr: Tracer, spans: Seq[Span], passes: Int, eager: Seq[Span]): Map[String, Double] = {
    val c = tr.counts(spans)
    Map(
      "spark.jobs" -> c.jobs.toDouble / passes,
      "spark.tasks_per_job" -> (if (c.jobs == 0) 0.0 else c.tasks.toDouble / c.jobs),
      "spark.shuffle_bytes" -> c.shuffleWriteBytes.toDouble / passes,
      "spark.spill_bytes" -> c.spillBytes.toDouble / passes,
      "spark.gc_s" -> c.gcMs / 1e3 / passes,
      "spark.task_skew" -> taskSkew(c),
      "spark.eager_jobs" -> tr.counts(eager).jobs.toDouble / passes)
  }

  def du(f: java.io.File): (Long, Int) =
    if (!f.exists) (0L, 0)
    else if (f.isFile) (f.length, 1)
    else Option(f.listFiles).toSeq.flatten.map(du).foldLeft((0L, 0)) {
      case ((b, n), (b2, n2)) => (b + b2, n + n2)
    }
}

import Harness._

object FhirBulk {
  private val schemas = Map(
    "Patient" -> FhirSchemas.patient, "Condition" -> FhirSchemas.condition,
    "MedicationRequest" -> FhirSchemas.medicationRequest,
    "ExplanationOfBenefit" -> FhirSchemas.explanationOfBenefit)

  /** One export source: its stage root and per-resource expectations. */
  final case class Source(name: String, url: String, root: String, landingBytes: Long,
                          expected: Map[String, JsonNode]) {
    val stages = BulkPipeline.Stages(root)
    val resources = expected.keys.toSeq.sorted.map(r => r -> schemas(r))
    def glob(r: String) = s"${stages.landing}/$r-*.json"
    /** Records the reader yields (blank lines skipped), and every line in the files. */
    def lines: Long = expected.values.map(_.get("read").asLong).sum
    def scannedLines: Long = expected.values.map(_.get("lines").asLong).sum
    def promotedParts(r: String): Seq[java.io.File] =
      Option(new java.io.File(s"${stages.promoted}/$r").listFiles).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
  }
}
import FhirBulk.Source

/** `fhir_bulk`: every source's export, landing to promoted output plus
  * manifest, through `BulkPipeline.runLocalFlow`, in rounds of one flow
  * per source, each round in a new seeded source order, until the time
  * window closes. */
final class FhirBulk(spark: SparkSession, config: JsonNode, seed: Long,
                     seconds: Double, traced: Boolean, out: Outcome, runId: String) {
  import spark.implicits._

  private val sources =
    config.get("sources").fields.asScala.toSeq.map { e =>
      val v = e.getValue
      Source(e.getKey, v.get("url").asText, v.get("root").asText,
        v.get("landing_bytes").asLong,
        v.get("resources").fields.asScala.map(r => r.getKey -> r.getValue).toMap)
    }.sortBy(_.name)
  private val rng = new Random(seed)
  private def order(): Seq[Source] = rng.shuffle(sources)

  /** Each warm round's seconds, for the run record. */
  var warmPasses: Seq[Double] = Nil

  private val rxnorm: DataFrame = new ObjectMapper()
    .readTree(new java.io.File(config.get("rxnorm").asText)).elements.asScala
    .map(r => (r.get("ndc").asText, r.get("name").asText, r.get("rxnorm").asText))
    .toSeq.toDF("ndc", "name", "rxnorm")

  /** One flow, checked: quarantine counts and the manifest must match.
    * Returns the flow's own corrupt-line count per resource. */
  private def flow(src: Source): Map[String, Long] = {
    val (manifest, corrupt) = BulkPipeline.runLocalFlow(
      spark, src.stages, src.url, src.resources, rxnorm)
    src.expected.foreach { case (r, exp) =>
      if (corrupt.get(r) != Some(exp.get("corrupt").asLong))
        out.fail(s"${src.name}/$r corrupt ${corrupt.get(r)} != ${exp.get("corrupt").asLong}")
    }
    val entries = mapper.readTree(manifest).get("input").elements.asScala.toSeq
      .map(e => e.get("type").asText -> e.get("url").asText)
    src.resources.foreach { case (r, _) =>
      val parts = src.promotedParts(r).map(_.toURI.getPath).toSet
      val listed = entries.collect { case (`r`, u) => new java.net.URI(u).getPath }.toSet
      if (parts.isEmpty || listed != parts)
        out.fail(s"${src.name}/$r manifest lists ${listed.size} files, promoted has ${parts.size}")
    }
    corrupt
  }

  private def timedFlow(src: Source): Option[Double] =
    out.attempt(s"${src.name} flow")(clock(flow(src))._2)

  def run(): (Map[String, Double], Map[String, Double]) = {
    val first = order().map(s => s.name -> timedFlow(s))
    (1 to WarmUp).foreach(_ => order().foreach(timedFlow))
    val t0 = System.nanoTime()
    val window = warmWindow(seconds, traced)
    val rounds = mutable.ArrayBuffer.empty[Seq[(Source, Option[Double])]]
    while (rounds.size < MinWarm || since(t0) < window)
      rounds += order().map(s => s -> timedFlow(s))
    val warm = rounds.toSeq.map(r => r.flatMap(_._2).sum)
    warmPasses = warm
    val flowS = sources.map { s =>
      s.name -> median(rounds.toSeq.flatMap(_.collect { case (`s`, Some(t)) => t }))
    }
    val e2e = Map(
      "cold_pass_s" -> first.flatMap(_._2).sum,
      "warm_pass_s" -> median(warm),
      "op_p50_s" -> median(flowS.map(_._2)),
      "items_per_s" -> sources.map(_.lines).sum * rounds.size / warm.sum)
    val perSource = flowS.map { case (n, t) => s"pipeline.flow_s.$n" -> t }.toMap
    (e2e, if (traced) perSource ++ tracedLayers(median(warm), window) else Map.empty)
  }

  /** Traced rounds: the same flow under a span, then each module's public
    * call on the same inputs under its own span, so the flow splits into
    * ingest, transform and pipeline time. */
  private def tracedLayers(untracedPass: Double, window: Double): Map[String, Double] = {
    val tr = new Tracer(spark.sparkContext, runId)
    val perRound = mutable.ArrayBuffer.empty[Seq[(Source, (Span, Seq[Seq[Span]]))]]
    val corrupt = mutable.Map.empty[String, Long]
    val t0 = System.nanoTime()
    while (perRound.size < MinTraced || since(t0) < window)
      perRound += order().map { src =>
        val (flowCorrupt, flowSpan) = tr.span(s"pipeline.runLocalFlow.${src.name}")(flow(src))
        corrupt(src.name) = flowCorrupt.values.sum
        val probe = s"${src.root}/probe"
        val steps = src.resources.map { case (r, schema) =>
          def parsed = Ndjson.read(spark, src.glob(r), schema)
          def transformed = FhirTransforms.dispatch(src.url, r, rxnorm)(Ndjson.good(parsed))
          val read = tr.span(s"ingest.read.${src.name}")(
            parsed.write.format(Noop).mode("overwrite").save())._2
          val quarantine = tr.span(s"ingest.quarantine.${src.name}")(
            Ndjson.corrupt(parsed).count())._2
          val dispatch = tr.span(s"transform.dispatch.${src.name}")(
            transformed.write.format(Noop).mode("overwrite").save())._2
          val write = tr.span(s"pipeline.write.${src.name}")(
            Ndjson.write(transformed, s"$probe/processed/$r"))._2
          val promote = tr.span(s"pipeline.promote.${src.name}")(
            BulkPipeline.promoteDir(spark, s"$probe/processed/$r", s"$probe/promoted/$r"))._2
          Seq(read, quarantine, dispatch, write, promote)
        }
        src -> (flowSpan, steps.transpose)
      }
    val rounds = perRound.size
    def sec(ss: Seq[Span]) = ss.map(_.seconds).sum
    val layers = sources.flatMap { src =>
      val mine = perRound.toSeq.map(_.collect { case (`src`, v) => v }.head)
      def step(i: Int)(r: (Span, Seq[Seq[Span]])) = sec(r._2(i))
      val n = src.name
      val flowCounts = tr.counts(mine.map(_._1))
      // Lines the reader scanned (blank ones included), per round.
      val scanned = tr.counts(mine.flatMap(_._2(0))).recordsRead / rounds
      if (scanned != src.scannedLines)
        out.fail(s"$n scanned $scanned lines, expected ${src.scannedLines}")
      val parts = src.resources.flatMap { case (r, _) => src.promotedParts(r) }
      val good = src.expected.values.map(e => e.get("good").asLong).sum.toDouble
      val readS = median(mine.map(step(0)))
      val dispatchS = median(mine.map(step(2)))
      Seq(
        s"ingest.read_s.$n" -> readS,
        s"ingest.records.$n" -> scanned.toDouble,
        s"ingest.corrupt.$n" -> corrupt(n).toDouble,
        s"ingest.quarantine_s.$n" -> median(mine.map(step(1))),
        s"ingest.read_bytes.$n" -> flowCounts.inputBytes.toDouble / rounds,
        s"ingest.disk_bytes.$n" -> src.landingBytes.toDouble,
        s"ingest.read_amplification.$n" -> flowCounts.inputBytes.toDouble / rounds / src.landingBytes,
        s"transform.self_s.$n" -> (dispatchS - readS),
        s"transform.kept_ratio.$n" -> flowCounts.recordsWritten / rounds / good,
        s"transform.shuffle_bytes.$n" -> tr.counts(mine.flatMap(_._2(2))).shuffleWriteBytes.toDouble / rounds,
        s"pipeline.write_s.$n" -> median(mine.map(r => step(3)(r) - step(2)(r))),
        s"pipeline.promote_s.$n" -> median(mine.map(step(4))),
        s"pipeline.manifest_s.$n" -> median(mine.map(r =>
          r._1.seconds - step(1)(r) - step(3)(r) - step(4)(r))),
        s"pipeline.bytes_out.$n" -> parts.map(_.length).sum.toDouble,
        s"pipeline.files_out.$n" -> parts.size.toDouble)
    }.toMap
    val flowSpans = perRound.toSeq.flatMap(_.map(_._2._1))
    val tracedPass = median(perRound.toSeq.map(_.map(_._2._1.seconds).sum))
    tr.write(s"${config.get("work").asText}/trace-$runId.jsonl", config.get("record"))
    tr.stop()
    layers ++ sparkLayer(tr, flowSpans, rounds, Nil) +
      ("tracing_overhead_s" -> (tracedPass - untracedPass))
  }
}

/** `registry_floor`: the selected registry queries, each pass in a new
  * seeded order (so no one order's cache and JIT effects decide a run's
  * figures), one cold pass in the run's fresh session (empty artifact
  * root), then warm passes until the time window closes. Each query is
  * forced through a `noop` sink. */
final class Registry(spark: SparkSession, config: JsonNode, seed: Long,
                     seconds: Double, traced: Boolean, out: Outcome, runId: String) {

  private val corpus = config.get("corpus").asText
  private val byName = SparkEntry.registry.map(q => q.name -> q).toMap
  private val rng = new Random(seed)
  private val selected: Seq[Q] =
    config.get("queries").elements.asScala.map(n => byName(n.asText)).toSeq
  private def queries: Seq[Q] = rng.shuffle(selected)
  /** Per-query cold and median warm seconds, and each warm pass's
    * seconds, for the run record. */
  var perQuery: Map[String, Any] = Map.empty
  var warmPasses: Seq[Double] = Nil

  private val familyOf: Map[String, String] =
    (SparkEntry.families - "heavy" - "docs").toSeq
      .flatMap { case (f, qs) => qs.map(_ -> f) }.toMap

  private def runOne(q: Q): Unit =
    q.run(spark, corpus).write.format(Noop).mode("overwrite").save()

  private def pass(): Seq[(String, Double)] =
    queries.flatMap(q => out.attempt(q.name)(clock(runOne(q))._2).map(q.name -> _))

  def run(): (Map[String, Double], Map[String, Double]) = {
    // The artifact root is per JVM under java.io.tmpdir, which run.py
    // points at an emptied directory: the cold pass starts with no artifacts.
    val root = if (traced) Some(ArtifactCache.artifactRoot) else None
    val cold = queries.flatMap { q =>
      val before = root.map(du)
      out.attempt(q.name)(clock(runOne(q))._2).map { t =>
        val after = root.map(du)
        (q.name, t, after != before, after.fold(0L)(_._1) - before.fold(0L)(_._1))
      }
    }
    val passes = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    (1 to WarmUp).foreach(_ => pass())
    val window = warmWindow(seconds, traced)
    val t0 = System.nanoTime()
    while (passes.size < MinWarm || since(t0) < window) passes += pass()
    val warm = passes.toSeq.map(_.map(_._2).sum)
    warmPasses = warm
    val samples = passes.toSeq.flatten.map(_._2)
    val warmOf = passes.toSeq.flatten.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    val e2e = Map(
      "cold_pass_s" -> cold.map(_._2).sum,
      "warm_pass_s" -> median(warm),
      "op_p50_s" -> median(warmOf.values.toSeq),
      "items_per_s" -> samples.size / warm.sum)
    perQuery = cold.map { case (n, t, _, _) => n -> Map("cold" -> t, "warm" -> warmOf.get(n)) }.toMap
    if (!traced) return (e2e, Map.empty)

    val builds = cold.filter(_._3)
    val sorted = samples.sorted
    val util = Map(
      "util.artifact_builds" -> builds.size.toDouble,
      "util.artifact_bytes" -> builds.map(_._4).sum.toDouble,
      "util.artifact_build_s" -> builds.map(b => b._2 - warmOf.getOrElse(b._1, 0.0)).sum,
      "query.p95_s" -> sorted(math.min(sorted.size - 1, math.ceil(0.95 * sorted.size).toInt - 1)))
    (e2e, util ++ tracedLayers(median(warm), window))
  }

  /** Traced warm passes: each query under a `query.<name>` span whose
    * children are construction (`q.run`, including any jobs it runs
    * eagerly), Catalyst planning and execution. */
  private def tracedLayers(untracedPass: Double, window: Double): Map[String, Double] = {
    val tr = new Tracer(spark.sparkContext, runId)
    val passes = mutable.ArrayBuffer.empty[Seq[Span]]
    val t0 = System.nanoTime()
    while (passes.size < MinTraced || since(t0) < window) passes += queries.flatMap { q =>
      val fam = familyOf(q.name)
      out.attempt(q.name)(tr.span(s"query.${q.name}") {
        val (df, c) = tr.span(s"$fam.construct")(q.run(spark, corpus))
        val (_, p) = tr.span(s"$fam.plan")(df.queryExecution.executedPlan)
        val (_, e) = tr.span(s"$fam.exec")(df.write.format(Noop).mode("overwrite").save())
        Seq(c, p, e)
      }._1).getOrElse(Nil)
    }
    val spans = passes.toSeq.flatten
    val perFamily = spans.groupBy(_.name).map { case (k, v) =>
      k + "_s" -> v.map(_.seconds).sum / passes.size
    }
    val construct = spans.filter(_.name.endsWith(".construct"))
    val work = spans.filterNot(_.name.endsWith(".plan"))
    tr.write(s"${config.get("work").asText}/trace-$runId.jsonl", config.get("record"))
    tr.stop()
    perFamily ++ sparkLayer(tr, work, passes.size, construct) +
      ("tracing_overhead_s" -> (median(passes.toSeq.map(_.map(_.seconds).sum)) - untracedPass))
  }
}
