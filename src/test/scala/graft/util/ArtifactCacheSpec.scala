package graft.util

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Contracts of the unified derived-artifact cache (r12 verdict #7):
  * stamp sensitivity, hit re-validation, and dead-entry sweeping —
  * the invariants the six hand-rolled predecessors implemented
  * inconsistently — plus the artifact layer on top of it
  * ([[ArtifactCache.persistedDir]], [[ArtifactCache.sessionTable]],
  * [[ArtifactCache.sessionScoped]], [[ArtifactCache.datasetScoped]],
  * [[ArtifactCache.persistedRoot]]), each case run for every shape on
  * a toy input file. */
class ArtifactCacheSpec extends AnyFunSuite {

  test("datasetStamp changes with content length even at identical mtime") {
    val f = Files.createTempFile("acache", ".parquet")
    Files.write(f, "aaaa".getBytes("UTF-8"))
    val mtime = 1700000000000L
    f.toFile.setLastModified(mtime)
    val s1 = ArtifactCache.datasetStamp(f.toString)
    // same-second rewrite with different content: mtime pinned equal
    Files.write(f, "aaaaaaaa".getBytes("UTF-8"))
    f.toFile.setLastModified(mtime)
    val s2 = ArtifactCache.datasetStamp(f.toString)
    assert(s1 !== s2, "length must join mtime in the stamp")
    assert(ArtifactCache.stamp(s1) !== ArtifactCache.stamp(s2))
    assert(ArtifactCache.stamp(s1).length === 32, "128-bit hex stamp")
  }

  test("session suffix is always 8 hex digits (a short one read as a plan change)") {
    // identity hash 0x1f1574c printed as 7 digits made a 454-line false
    // plan diff: the suffix mask matches exactly 8
    assert(ArtifactCache.hex8(0x1f1574c) === "01f1574c")
    assert(ArtifactCache.hex8(0) === "00000000")
    assert(ArtifactCache.hex8(-1) === "ffffffff")
  }

  test("getOrBuild: caches, re-validates hits, rebuilds invalid entries") {
    val c = new ArtifactCache[String]("spec")
    var builds = 0
    def build(): String = { builds += 1; s"v$builds" }
    assert(c.getOrBuild("k", _ => true)(build()) === "v1")
    assert(c.getOrBuild("k", _ => true)(build()) === "v1", "hit rebuilt")
    assert(builds === 1)
    // an invalidated hit rebuilds in place
    assert(c.getOrBuild("k", _ != "v1")(build()) === "v2")
    assert(c.getOrBuild("k", _ != "v1")(build()) === "v2")
    assert(builds === 2)
  }

  test("getOrBuild: at most one builder per key under concurrency (ADVICE r13)") {
    // Builds with filesystem/catalog side effects (deleteRecursively +
    // DROP TABLE + saveAsTable) must never interleave: two racing
    // callers on one key get ONE build, the loser blocking until the
    // winner's value lands. Distinct keys must still build in parallel
    // (the lock is per-key, not cache-global).
    val c = new ArtifactCache[String]("conc")
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val perKeyActive = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicInteger]()
    val overlapped = new java.util.concurrent.atomic.AtomicBoolean(false)
    def build(key: String): String = {
      val active = perKeyActive.computeIfAbsent(key,
        _ => new java.util.concurrent.atomic.AtomicInteger(0))
      if (active.incrementAndGet() > 1) overlapped.set(true)
      Thread.sleep(50)
      val n = builds.incrementAndGet()
      active.decrementAndGet()
      s"$key-v$n"
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        val key = if (i % 2 == 0) "kA" else "kB"
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = c.getOrBuild(key, _ => true)(build(key))
        })
      }
      val results = futures.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!overlapped.get(), "two builders ran concurrently for one key")
      assert(builds.get() === 2, s"expected exactly one build per key, got ${builds.get()}")
      assert(results.toSet.size === 2, "losers did not observe the winner's value")
      assert(results.forall(r => r.startsWith("kA-") || r.startsWith("kB-")))
    } finally pool.shutdownNow()
  }

  test("sweep drops dead entries and leaves live ones") {
    val c = new ArtifactCache[Int]("spec2")
    c.getOrBuild("a", _ => true)(1)
    c.getOrBuild("b", _ => true)(2)
    c.sweep(_ == 1)
    assert(c.size === 1)
    assert(c.getOrBuild("b", _ => true)(99) === 2)
    assert(c.getOrBuild("a", _ => true)(3) === 3, "swept entry must rebuild")
  }

  // ---- artifact layer ----------------------------------------------

  private lazy val spark = TestSpark.spark

  /** One artifact shape under test: `get` returns the served frame
    * and bumps `builds` when it (re)writes. */
  private case class Shape(label: String,
      get: (SparkSession, String, Path, Long) => DataFrame)

  private var builds = 0

  private def rows(s: SparkSession, n: Long): DataFrame = {
    builds += 1
    s.range(n).toDF("id")
  }

  private val dirShape = Shape("persistedDir", (s, name, in, n) =>
    s.read.parquet(ArtifactCache.persistedDir(s, name, in.toString, "k1", "k2") {
      rows(s, n)
    }))

  private val tableShape = Shape("sessionTable", (s, name, in, n) =>
    ArtifactCache.sessionTable(s, name, in.toString,
        ArtifactCache.Bucketed(2, Seq("id"), sorted = true), "k1", "k2") {
      rows(s, n)
    })

  private val sessionValues =
    scala.collection.concurrent.TrieMap.empty[String, ArtifactCache.SessionScoped[DataFrame]]
  private val datasetValues =
    scala.collection.concurrent.TrieMap.empty[String, ArtifactCache.DatasetScoped[Long]]

  private val sessionShape = Shape("sessionScoped", (s, name, in, n) =>
    sessionValues.getOrElseUpdate(name, ArtifactCache.sessionScoped(name))(
        s, in.toString, "k1", "k2") {
      rows(s, n)
    })

  // driver-side data: the cached value is the row count, not a frame
  private val datasetShape = Shape("datasetScoped", (s, name, in, n) =>
    s.range(datasetValues.getOrElseUpdate(name, ArtifactCache.datasetScoped(name))(
        in.toString, "k1", "k2") {
      builds += 1
      n
    }).toDF("id"))

  private def toyInput(body: String): Path = {
    val f = Files.createTempFile("alayer", ".parquet")
    Files.write(f, body.getBytes("UTF-8"))
    f
  }

  private def leftovers(name: String): Seq[String] =
    Option(ArtifactCache.artifactRoot.list()).toSeq.flatten
      .filter(_.startsWith(s"graft_${name}_"))

  for ((sh, tag) <- Seq(dirShape -> "d", tableShape -> "t", sessionShape -> "s",
      datasetShape -> "m")) {

    test(s"${sh.label}: a missing input fails loudly, names the artifact, caches nothing") {
      val name = s"spec_missing_$tag"
      val in = toyInput("x")
      Files.delete(in)
      val e = intercept[IllegalArgumentException](sh.get(spark, name, in, 3))
      assert(e.getMessage.contains(name) && e.getMessage.contains("does not exist"))
      assert(leftovers(name).isEmpty, "a failed lookup left an artifact behind")
      // the input appearing later builds: the failure was never cached
      Files.write(in, "x".getBytes("UTF-8"))
      builds = 0
      assert(sh.get(spark, name, in, 3).count() === 3)
      assert(builds === 1)
    }

    test(s"${sh.label}: a same-mtime rewrite with a new length rebuilds") {
      val name = s"spec_rewrite_$tag"
      val in = toyInput("aaaa")
      val mtime = 1700000000000L
      in.toFile.setLastModified(mtime)
      builds = 0
      assert(sh.get(spark, name, in, 2).count() === 2)
      assert(sh.get(spark, name, in, 5).count() === 2, "a valid hit was rebuilt")
      assert(builds === 1)
      Files.write(in, "aaaaaaaa".getBytes("UTF-8"))
      in.toFile.setLastModified(mtime)
      assert(sh.get(spark, name, in, 5).count() === 5, "stale artifact served")
      assert(builds === 2)
    }

    test(s"${sh.label}: two names with identical key knobs do not collide") {
      val in = toyInput("same")
      builds = 0
      assert(sh.get(spark, s"spec_a_$tag", in, 2).count() === 2)
      assert(sh.get(spark, s"spec_b_$tag", in, 4).count() === 4,
        "a second artifact name served the first one's rows")
      assert(builds === 2)
    }

    test(s"${sh.label}: a second session builds or shares by shape") {
      val name = s"spec_session_$tag"
      val in = toyInput("sess")
      val other = spark.newSession()
      builds = 0
      val mine = sh.get(spark, name, in, 2)
      val theirs = sh.get(other, name, in, 2)
      assert(mine.count() === 2)
      assert(theirs.count() === 2)
      if ((sh eq tableShape) || (sh eq sessionShape))
        assert(builds === 2, "a second session was served another session's value")
      else assert(builds === 1, "a session-independent value was rebuilt per session")
      if (sh eq tableShape) {
        val tables = spark.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(s"graft_${name}_"))
        assert(tables.length === 2, tables.mkString(", "))
      }
      if (sh eq sessionShape) {
        assert(theirs.sparkSession eq other, "served a frame of another session")
        assert(sh.get(spark, name, in, 2) eq mine, "the first session's hit was rebuilt")
        assert(sh.get(other, name, in, 2) eq theirs, "the second session's hit was rebuilt")
        assert(builds === 2)
      }
    }
  }

  test("persistedDir: a staged dir whose _SUCCESS was deleted is rebuilt, not served") {
    val name = "spec_torn"
    val in = toyInput("torn")
    builds = 0
    val path = ArtifactCache.persistedDir(spark, name, in.toString, "k") { rows(spark, 3) }
    val marker = new java.io.File(path, "_SUCCESS")
    assert(marker.delete())
    val again = ArtifactCache.persistedDir(spark, name, in.toString, "k") { rows(spark, 3) }
    assert(again === path)
    assert(builds === 2, "a dir without _SUCCESS was served")
    assert(marker.exists())
    assert(spark.read.parquet(path).count() === 3)
  }

  test("persistedRoot: a root whose validity check turns false is rebuilt") {
    val in = toyInput("root")
    builds = 0
    def root(): String =
      ArtifactCache.persistedRoot("spec_root", in.toString, "k")(
          new java.io.File(_, "_gen").exists) { r =>
        builds += 1
        assert(new java.io.File(r, "_gen").mkdirs())
      }
    val path = root()
    assert(new java.io.File(path).getName.startsWith("graft_spec_root_"))
    assert(root() === path)
    assert(builds === 1, "a valid root was rebuilt")
    assert(new java.io.File(path, "_gen").delete())
    assert(root() === path)
    assert(builds === 2, "a root that failed its check was served")
  }
}
