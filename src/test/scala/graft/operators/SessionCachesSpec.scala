package graft.operators

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSuite

/** The session registry's concurrency and reclamation contract:
  * one build per key under concurrent first calls (no leaked temp dirs —
  * round-6 advice on TrieMap.getOrElseUpdate's double evaluation),
  * peek-without-build, and clear() reclaiming every artifact dir including
  * dirs whose build failed mid-flight. */
class SessionCachesSpec extends SparkSuite {

  test("dirMemo: concurrent first calls build exactly once and share one dir") {
    val builds = new AtomicInteger(0)
    val gate = new CountDownLatch(1)
    val key = "concurrent-" + System.nanoTime()
    val pool = Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            gate.await()
            SessionCaches.dirMemo(spark, key) { dir =>
              builds.incrementAndGet()
              Thread.sleep(20) // widen the race window
              java.nio.file.Files.writeString(
                java.nio.file.Paths.get(dir, "x"), "built")
            }
          }
        })
      }
      gate.countDown()
      val dirs = futures.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(builds.get() == 1, s"build ran ${builds.get()} times for one key")
      assert(dirs.size == 1, s"callers saw different dirs: $dirs")
      assert(new java.io.File(dirs.head, "x").exists())
    } finally pool.shutdown()
  }

  test("dirMemo: second call serves without rebuilding; peekDir never builds") {
    val builds = new AtomicInteger(0)
    val key = "serve-" + System.nanoTime()
    assert(SessionCaches.peekDir(spark, "absent-" + key).isEmpty)
    assert(builds.get() == 0)
    val d1 = SessionCaches.dirMemo(spark, key)(_ => builds.incrementAndGet())
    val d2 = SessionCaches.dirMemo(spark, key)(_ => builds.incrementAndGet())
    assert(d1 == d2 && builds.get() == 1)
    assert(SessionCaches.peekDir(spark, key).contains(d1))
  }

  test("durable root: build in session A, serve in session B without rebuilding") {
    val root = tmpDir("graft-durable-root")
    val srcDir = tmpDir("graft-durable-src")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(srcDir, "part-0.parquet"), "source-bytes")
    val builds = new AtomicInteger(0)
    val key = s"ivf-index:$srcDir" // embeds its source dir, like real keys
    def build(dir: String): Unit = {
      builds.incrementAndGet()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "idx"), "v1")
    }
    val a = spark.newSession()
    val b = spark.newSession()
    a.conf.set("spark.graft.artifact.root", root)
    b.conf.set("spark.graft.artifact.root", root)
    val d1 = SessionCaches.dirMemo(a, key)(build)
    assert(builds.get() == 1)
    assert(new java.io.File(d1, "idx").exists())
    val d2 = SessionCaches.dirMemo(b, key)(build)
    assert(builds.get() == 1, "session B must serve, not rebuild")
    assert(d1 == d2)
    // clear() drops the in-memory layer but NOT the durable artifact;
    // a third session still serves without rebuilding
    SessionCaches.clear(a)
    SessionCaches.clear(b)
    assert(new java.io.File(d1, "idx").exists(),
      "clear() must not delete durable artifacts")
    val c = spark.newSession()
    c.conf.set("spark.graft.artifact.root", root)
    assert(SessionCaches.dirMemo(c, key)(build) == d1 && builds.get() == 1)
  }

  test("durable root: a changed source table changes the address and rebuilds") {
    val root = tmpDir("graft-durable-root2")
    val srcDir = tmpDir("graft-durable-src2")
    val src = java.nio.file.Paths.get(srcDir, "part-0.parquet")
    java.nio.file.Files.writeString(src, "v1")
    val builds = new AtomicInteger(0)
    val key = s"postings:$srcDir"
    val a = spark.newSession()
    a.conf.set("spark.graft.artifact.root", root)
    val d1 = SessionCaches.dirMemo(a, key)(_ => builds.incrementAndGet())
    // regenerate the source with different content (size change: mtime
    // granularity is filesystem-dependent, size is not)
    java.nio.file.Files.writeString(src, "v2-longer")
    val b = spark.newSession()
    b.conf.set("spark.graft.artifact.root", root)
    val d2 = SessionCaches.dirMemo(b, key)(_ => builds.incrementAndGet())
    assert(builds.get() == 2, "changed source must miss the old address")
    assert(d1 != d2)
    // a half-written dir without the completion marker is never served:
    // both artifacts carry the marker exactly because they completed
    assert(new java.io.File(d1, "_GRAFT_COMPLETE").exists())
    assert(new java.io.File(d2, "_GRAFT_COMPLETE").exists())
  }

  test("rehomeDurable: refreshed artifact moves to the new source address, no rebuild") {
    val root = tmpDir("graft-durable-root3")
    val srcDir = tmpDir("graft-durable-src3")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(srcDir, "part-0.parquet"), "v1")
    val builds = new AtomicInteger(0)
    val key = s"manifest:$srcDir"
    val a = spark.newSession()
    a.conf.set("spark.graft.artifact.root", root)
    val d1 = SessionCaches.dirMemo(a, key) { dir =>
      builds.incrementAndGet()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "m"), "stats-v1")
    }
    // the source grows (append) and the artifact is maintained IN PLACE —
    // the refreshManifest shape — which strands it at the OLD address...
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(srcDir, "part-1.parquet"), "appended")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(d1, "m"), "stats-v2")
    // ...unless re-homed to the address of the new source stamp
    val d2 = SessionCaches.rehomeDurable(a, key, d1)
    assert(d2 != d1, "append must move the content address")
    assert(!new java.io.File(d1).exists(), "old address must not linger")
    assert(SessionCaches.dirMemo(a, key)(_ => builds.incrementAndGet()) == d2,
      "the re-homing session itself must resolve the new address")
    val b = spark.newSession()
    b.conf.set("spark.graft.artifact.root", root)
    val d3 = SessionCaches.dirMemo(b, key)(_ => builds.incrementAndGet())
    assert(d3 == d2, "a later session must resolve the re-homed artifact")
    assert(builds.get() == 1, "re-homed artifact must serve, not rebuild")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(d3, "m")) == "stats-v2",
      "the REFRESHED content must be what gets served")
  }

  test("clearQueryState: prior models survive, own-warmup state is dropped") {
    // Bench's per-query cold reset (round-13 verdict "Next round" #4):
    // a trained model registered by an EARLIER sweep query is the
    // session's model registry and survives; everything THIS query's
    // warmup built — its own model, plain memos, artifact dirs — drops,
    // so the timed run still pays its own construction (the round-5
    // no-phantom-win rule).
    val s = spark.newSession() // isolate from other suites' registry state
    val builds = new AtomicInteger(0)
    assert(SessionCaches.modelMemo(s, "prior-model")(
      { builds.incrementAndGet(); Seq(42L) }) == Seq(42L))
    val preModels = SessionCaches.modelKeys(s)
    // "warmup" of the next query: trains its own model + memo + artifact
    SessionCaches.modelMemo(s, "own-model") { builds.incrementAndGet(); 7 }
    SessionCaches.memo(s, "own-val") { builds.incrementAndGet(); 1 }
    val dir = SessionCaches.dirMemo(s, "own-dir") { d =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(d, "x"), "y")
    }
    assert(SessionCaches.allKeys(s) != preModels)
    SessionCaches.clearQueryState(s, preModels)
    // prior model serves without rebuilding; everything else rebuilds
    val before = builds.get()
    assert(SessionCaches.modelMemo(s, "prior-model")(
      { builds.incrementAndGet(); Seq(-1L) }) == Seq(42L))
    assert(builds.get() == before, "prior model must serve, not rebuild")
    SessionCaches.modelMemo(s, "own-model") { builds.incrementAndGet(); 7 }
    SessionCaches.memo(s, "own-val") { builds.incrementAndGet(); 1 }
    assert(builds.get() == before + 2,
      "own-warmup model and memo must have been dropped")
    assert(!new java.io.File(dir).exists(),
      "own-warmup artifact dir must be deleted")
    SessionCaches.clear(s)
    assert(SessionCaches.size(s) == 0, "full clear drops the model tier too")
  }

  test("clear: reclaims built dirs AND dirs whose build threw") {
    val okKey = "ok-" + System.nanoTime()
    val badKey = "bad-" + System.nanoTime()
    val ok = SessionCaches.dirMemo(spark, okKey) { dir =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "x"), "y")
    }
    // a build that fails after creating its dir: the dir is registered
    // before build runs, so clear() can still reclaim it
    val bad = intercept[RuntimeException] {
      SessionCaches.dirMemo(spark, badKey)(_ => sys.error("build failed"))
    }
    assert(bad.getMessage.contains("build failed"))
    val leaked = SessionCaches.peekDir(spark, badKey)
    assert(leaked.isDefined, "failed build's dir must stay registered for clear()")
    SessionCaches.clear(spark)
    assert(!new java.io.File(ok).exists(), "clear must delete built artifact dirs")
    assert(!new java.io.File(leaked.get).exists(),
      "clear must delete the failed build's dir")
    assert(SessionCaches.size(spark) == 0)
  }

  test("memo: a raw value planted under a val: key fails loudly, never shadows") {
    val s = spark.newSession() // isolate from other suites' registry state
    val builds = new AtomicInteger(0)
    SessionCaches.perSession(s).put("val:planted", "raw-string")
    val e = intercept[IllegalStateException] {
      SessionCaches.memo(s, "planted") { builds.incrementAndGet(); 1 }
    }
    assert(e.getMessage.contains("val:planted"), e.getMessage)
    assert(builds.get() == 0, "a non-holder entry must not trigger a rebuild")
    assert(SessionCaches.perSession(s).get("val:planted").contains("raw-string"))
    SessionCaches.clear(s)
  }
}
