package graft.operators

import graft.SparkSuite
import graft.operators.SessionDirMemo.{inRawChain, pin, rawChain}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Retention contract of the two-slot memo: the driver's real access
  * pattern (correctness dir and bench dir interleaved in ONE session)
  * must keep both warm, and a third key must evict exactly the LRU —
  * the explicit bound that replaces the round-10 weak-key non-release.
  * An evicted build's blocks are freed by Spark's ContextCleaner, never
  * by the memo: the release tests watch public unpersist events. */
class SessionDirMemoSpec extends SparkSuite {

  // the single-frame form every memoized query stage uses
  private type SessionDirMemo = graft.operators.SessionDirMemo[DataFrame]

  private def df(tag: Int) = spark.range(tag).toDF("id")
  private def ckpt(tag: Int) = df(tag).localCheckpoint(true)
  private def blocksOf(d: DataFrame): Set[Int] =
    d.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet

  /** Runs `body` with a live view of the RDD ids unpersisted so far. */
  private def withUnpersists[T](body: (() => Set[Int]) => T): T = {
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        ids.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(l)
    try body(() => ids.asScala.toSet)
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** Up to `rounds` GC cycles until `done`; ContextCleaner needs a GC to
    * see a build become unreachable, and its events arrive async. */
  private def pollGc(rounds: Int)(done: => Boolean): Boolean = {
    var i = 0
    while (!done && i < rounds) { System.gc(); Thread.sleep(50); i += 1 }
    done
  }

  test("alternating two dirs never rebuilds — the driver's interleave " +
    "pattern stays warm") {
    val memo = new SessionDirMemo
    var builds = 0
    def get(dir: String) =
      memo.get(spark, dir) { builds += 1; df(builds) }
    get("/sf0.01"); get("/sf0.1")
    assert(builds == 2)
    // r11's single slot rebuilt on EVERY line below (6 extra builds)
    get("/sf0.01"); get("/sf0.1"); get("/sf0.01"); get("/sf0.1")
    get("/sf0.1"); get("/sf0.01")
    assert(builds == 2, s"dir interleave thrashed the memo: $builds builds")
    assert(memo.pinned == 2)
  }

  test("a third key evicts the least-recently-USED, not the oldest-built") {
    val memo = new SessionDirMemo
    var builds = 0
    def get(dir: String) =
      memo.get(spark, dir) { builds += 1; df(builds) }
    get("/a"); get("/b")
    get("/a") // touch /a: /b is now LRU
    get("/c") // evicts /b
    assert(builds == 3 && memo.pinned == 2)
    get("/a"); get("/c")
    assert(builds == 3, "eviction dropped a recently-used entry")
    get("/b")
    assert(builds == 4, "/b should have been evicted and need a rebuild")
  }

  test("an evicted build a caller still holds keeps its checkpoint " +
    "blocks and stays readable (ADVICE r13 — eager unpersist would " +
    "hard-fail a live reader of a lineage-truncated checkpoint)") {
    withUnpersists { unpersisted =>
      val memo = new SessionDirMemo
      val a = memo.get(spark, "/a")(ckpt(10))
      val b = memo.get(spark, "/b")(ckpt(11))
      memo.get(spark, "/a")(fail("warm")) // /b becomes LRU
      memo.get(spark, "/c")(ckpt(12))     // evicts /b — but we still hold b
      pollGc(5)(false)
      assert((blocksOf(b) & unpersisted()).isEmpty,
        "a still-held evicted frame lost its blocks — live reader broken")
      assert(b.count() == 11, "the held evicted frame must remain readable")
      assert((blocksOf(a) & unpersisted()).isEmpty,
        "kept slot /a lost its blocks to the eviction")
    }
  }

  test("a DERIVED frame keeps an evicted build alive even after the " +
    "wrapper Dataset is dropped — the real consumer shape (every " +
    "caller .selects off the memoized frame immediately)") {
    withUnpersists { unpersisted =>
      val memo = new SessionDirMemo
      // build, derive, and DROP the wrapper — only the derived plan lives
      var m = memo.get(spark, "/b")(ckpt(11))
      val bBlocks = blocksOf(m)
      val derived = m.select((col("id") * 2).as("id2"))
      m = null
      memo.get(spark, "/a")(ckpt(10))
      memo.get(spark, "/c")(ckpt(12)) // evicts /b; only `derived` refers
      pollGc(5)(false)
      assert((bBlocks & unpersisted()).isEmpty,
        "a build a derived reader still needs was unpersisted")
      assert(derived.count() == 11,
        "the derived frame over the evicted build must remain readable")
    }
  }

  test("a reader that reaches an evicted build only through its RDD " +
    "lineage stays readable (the ConnectedComponents.snap shape: " +
    "createDataFrame(m.rdd, m.schema) holds the RDD, not the plan leaf)") {
    val memo = new SessionDirMemo
    var m = memo.get(spark, "/b")(ckpt(11))
    val reader = spark.createDataFrame(m.rdd, m.schema)
      .select((col("id") * 2).as("id2"))
    m = null
    memo.get(spark, "/a")(ckpt(10))
    memo.get(spark, "/c")(ckpt(12)) // evicts /b; only `reader` refers
    // keep using the memo while GC runs, as a query suite would
    pollGc(20) { memo.get(spark, "/a")(fail("warm")); false }
    assert(reader.count() == 11,
      "the lineage reader over the evicted build must remain readable")
  }

  test("once the evicted frame is unreachable, ContextCleaner unpersists " +
    "its blocks — bounded retention without breaking readers") {
    withUnpersists { unpersisted =>
      val memo = new SessionDirMemo
      var b: DataFrame = memo.get(spark, "/b")(ckpt(11))
      val bBlocks = blocksOf(b)
      val a = memo.get(spark, "/a")(ckpt(10))
      val c = memo.get(spark, "/c")(ckpt(12)) // evicts /b
      b = null // drop the last strong reference to the evicted frame
      assert(pollGc(20)(bBlocks.subsetOf(unpersisted())),
        "the unreachable evicted build's blocks were never unpersisted")
      assert(((blocksOf(a) ++ blocksOf(c)) & unpersisted()).isEmpty,
        "a kept slot lost its blocks to the eviction")
    }
  }

  test("tuple values release EVERY member frame once unreachable — a " +
    "k-means fit's centroids AND assignment") {
    withUnpersists { unpersisted =>
      val memo = new graft.operators.SessionDirMemo[(DataFrame, DataFrame)]
      val a = memo.get(spark, "/a")((ckpt(10), ckpt(11)))
      var b: (DataFrame, DataFrame) =
        memo.get(spark, "/b")((ckpt(12), ckpt(13)))
      val bBlocks = blocksOf(b._1) ++ blocksOf(b._2)
      memo.get(spark, "/a")(fail("warm")) // /b becomes LRU
      memo.get(spark, "/c")((ckpt(14), ckpt(15))) // evicts /b
      b = null
      assert(pollGc(20)(bBlocks.subsetOf(unpersisted())),
        "a released tuple member's blocks were not unpersisted")
      assert(((blocksOf(a._1) ++ blocksOf(a._2)) & unpersisted()).isEmpty,
        "a kept tuple slot lost blocks to the eviction")
    }
  }

  test("hits return the identical materialized frame, misses are keyed " +
    "by (session, dir) identity") {
    val memo = new SessionDirMemo
    val a = memo.get(spark, "/x")(df(7))
    assert(memo.get(spark, "/x")(fail("must not rebuild")) eq a)
    // a different session object with the same dir is a different key
    val s2 = spark.newSession()
    val b = memo.get(s2, "/x")(df(9))
    assert(b ne a)
    assert(memo.get(spark, "/x")(fail("still warm")) eq a)
  }

  test("inside rawChain, get runs the build on every call even when the " +
    "slot is warm, and never touches a slot") {
    val memo = new SessionDirMemo
    var builds = 0
    def get() = memo.get(spark, "/x") { builds += 1; df(builds) }
    val warm = get()
    assert(builds == 1 && memo.pinned == 1)
    val raw = rawChain { get(); get() }
    assert(builds == 3, s"rawChain served a slot: $builds builds")
    assert(raw ne warm)
    assert(memo.pinned == 1, "rawChain wrote a slot")
    assert(get() eq warm, "the warm slot changed under rawChain")
    assert(builds == 3)
  }

  test("pin adds no LogicalRDD leaf inside rawChain and exactly one " +
    "outside it") {
    val base = df(5)
    val before = CheckpointBlocks.leaves(base).size
    assert(CheckpointBlocks.leaves(rawChain(pin(base))).size == before)
    assert(rawChain(pin(base)) eq base)
    assert(CheckpointBlocks.leaves(pin(base)).size == before + 1)
  }

  test("the raw mode is off again after the body throws and after " +
    "nested scopes exit") {
    assert(!inRawChain)
    intercept[IllegalStateException] {
      rawChain[Unit](throw new IllegalStateException("boom"))
    }
    assert(!inRawChain, "a throwing body left the raw mode on")
    rawChain {
      rawChain(assert(inRawChain))
      assert(inRawChain, "an inner scope's exit ended the outer scope")
    }
    assert(!inRawChain, "nested scopes left the raw mode on")
  }

  test("a thread started inside rawChain sees the raw mode off") {
    @volatile var seen = true
    rawChain {
      val t = new Thread(() => seen = inRawChain)
      t.start(); t.join()
    }
    assert(!seen, "the raw mode leaked into a thread started in its scope")
  }

  test("src/main has no Boolean checkpoint flag and no rawChain call — " +
    "rawChain is the only way to reach a raw build") {
    val param = "checkpoint" + ": Boolean"
    val call = """\brawChain\s*[\[(]""".r
    val files = Files.walk(Paths.get("src/main"))
    val sites =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (l, i) if l.contains(param) ||
              (call.findFirstIn(l).nonEmpty && !l.contains("def rawChain")) =>
              s"$p:${i + 1}"
          }
        }.toList.sorted
      finally files.close()
    assert(sites.isEmpty, "builders take no materialization flag and " +
      s"only tests enter SessionDirMemo.rawChain: $sites")
  }

  test("src/main checkpoints only through CheckpointBlocks and caches " +
    "only inside ConnectedComponents — no caller owes a release") {
    // InternalScan lives in org.apache.spark.sql and cannot see the
    // private[graft] CheckpointBlocks
    val owners = Seq(
      ".localCheckpoint(" -> Seq("graft/operators/CheckpointBlocks.scala",
        "org/apache/spark/sql/graftexec/InternalScan.scala"),
      ".persist(" -> Seq("graft/operators/ConnectedComponents.scala"),
      ".unpersist()" -> Seq("graft/operators/ConnectedComponents.scala"),
      // persist under another name: no owner
      ".cache()" -> Seq())
    val files = Files.walk(Paths.get("src/main"))
    val sites =
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.flatMap { case (l, i) =>
            owners.collect {
              case (call, allowed) if l.contains(call) &&
                  !allowed.exists(p.toString.endsWith(_)) =>
                s"$p:${i + 1} $call"
            }
          }
        }.toList.sorted
      finally files.close()
    assert(sites.isEmpty, "materialize with CheckpointBlocks.checkpoint; " +
      s"only ConnectedComponents persists and releases: $sites")
  }
}
