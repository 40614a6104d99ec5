package graft

import org.apache.spark.graftbridge.BroadcastBlocks
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.operators.{GraphQueries, ScaleOps}

/** The one pin-and-broadcast registry: whatever a query pins or
  * broadcasts through [[ScaleOps]] is gone after
  * [[ScaleOps.releaseAll]], on the failure path too. The release
  * assertions go through `GraphQueries.unpersistAll`, the delegate
  * the `perfbench` harness calls, so both names stay pinned. Also the
  * source checks that keep pins and console output where they
  * belong. */
class PinRegistrySpec extends AnyFunSuite with Eventually {
  private lazy val spark = TestSpark.spark

  test("unpersistAll destroys the q-gram df-map and triangle close-array " +
    "broadcasts") {
    import spark.implicits._
    spark.sparkContext // the block manager read needs a live session
    ScaleOps.releaseAll()
    val before = BroadcastBlocks.held().keySet
    // a generous vocab bound routes dfOrder through the collected df
    // map (ScaleOpsSpec's dfVocab)
    val strs = Seq("abcdefgh", "abcdefgx", "qrstuvwx", "qrstuvwy")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val pairs = ScaleOps.qgramFuzzyJoin(strs.toDF("id_a", "s_a"),
        strs.toDF("id_b", "s_b"), "s_a", "s_b", maxDist = 1, q = 2,
        dfOrder = true, dfVocab = 100000L)
      .filter(col("id_a") =!= col("id_b")).count()
    assert(pairs == 4)
    // one triangle (1, 2, 3) plus a pendant edge: tiny and packable, so
    // the closing probe takes the broadcast sorted-array arm
    val tri = GraphQueries.triangleCounts(
        Seq((1, 2), (1, 3), (2, 3), (3, 4)).toDF("u", "v"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(tri == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    val fresh = BroadcastBlocks.held().filter { case (id, _) => !before(id) }
    val dfMaps = fresh.collect {
      case (id, m: java.util.HashMap[_, _]) if m.containsKey("ab") => id
    }
    val packed = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .map { case (u, v) => (u << 32) | v }
    val closes = fresh.collect {
      case (id, a: Array[Long]) if a.toSeq == packed => id
    }
    assert(dfMaps.size == 1, s"df-map broadcasts held: $dfMaps")
    assert(closes.size == 1, s"close-array broadcasts held: $closes")
    GraphQueries.unpersistAll()
    // destroy() removes the blocks asynchronously
    eventually(timeout(Span(30, Seconds))) {
      val left = BroadcastBlocks.held().keySet
      assert(!(dfMaps ++ closes).exists(left), "a registered broadcast " +
        "outlived unpersistAll")
    }
  }

  test("q_dedup_corpus holds no RDD of its own past releaseAll") {
    val sc = spark.sparkContext
    ScaleOps.releaseAll()
    val before = sc.getPersistentRDDs.keySet
    val out = SparkEntry.queries("q_dedup_corpus")(spark, "/root/testdata/sf0.001")
    assert(out.collect().nonEmpty)
    ScaleOps.releaseAll()
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs the query made outlived releaseAll: $left")
    // `out` stays referenced up to here, so nothing it holds was
    // reclaimed by GC instead of by the release
    java.lang.ref.Reference.reachabilityFence(out)
  }

  test("a pin whose materializing count fails is still released by " +
    "unpersistAll") {
    val sc = spark.sparkContext
    ScaleOps.releaseAll()
    val before = sc.getPersistentRDDs.keySet
    val boom = udf((x: Long) => {
      if (x == 7L) throw new IllegalStateException("planted failure")
      x
    })
    // a range, not a local relation: the optimizer would evaluate the
    // UDF over local rows while planning, before any pin exists
    val df = spark.range(1, 21).select(boom(col("id")).as("y"))
    intercept[Exception](ScaleOps.materializePinned(df))
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty,
      "the failed count left no pin — the path under test did not run")
    GraphQueries.unpersistAll()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
      "the failed pin outlived unpersistAll")
    assert(df.storageLevel == StorageLevel.NONE)
  }

  private val mainRoot = java.nio.file.Paths.get("src/main/scala")

  /** Every Scala source under `src/main/scala`, read relative to the
    * working directory (as EventTimeSchemaSpec reads its fixtures). */
  private def mainSources(): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(mainRoot)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("under src/main/scala only ScaleOps persists, caches or broadcasts") {
    val calls = Seq(".persist(", ".cache()", "sparkContext.broadcast(")
    val owner = mainRoot.resolve("graft/operators/ScaleOps.scala")
    val hits = mainSources().flatMap { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      calls.filter(txt.contains).map(p -> _)
    }
    // the registry itself must still be found, or the check reads nothing
    assert(hits.exists(_._1 == owner), s"no pin call found in $owner")
    assert(hits.forall(_._1 == owner),
      s"pins or broadcasts outside the ScaleOps registry: $hits")
  }

  test("println appears only in the examples, Bench and Verify") {
    val pkg = mainRoot.resolve("graft")
    val consoleOwners = Set(pkg.resolve("Bench.scala"),
      pkg.resolve("Verify.scala"))
    val printing = mainSources().filter { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("println")
    }
    // the allowed owners must still be found, or the check reads nothing
    assert(printing.exists(consoleOwners), s"no println found in $consoleOwners")
    val stray = printing.filterNot(p =>
      consoleOwners(p) || p.startsWith(pkg.resolve("examples")))
    assert(stray.isEmpty, s"println outside the console mains: $stray")
  }
}
