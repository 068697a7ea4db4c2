package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{Scd2, SnapshotStore}

/** The benchmark's own tests: its arithmetic, its metric names against
  * BENCHMARK.json, and every correctness gate firing on a deliberately
  * corrupted input. Run with `python3 perfbench/run.py --selftest`.
  * Usage: perfbench.SelfTest <scratch dir> <BENCHMARK.json> */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += name
        println(s"FAIL $name: $e")
    }

  private def near(a: Double, b: Double): Unit =
    assert(math.abs(a - b) < 1e-9, s"$a != $b")

  /** `body` must raise a [[GateFailure]]. */
  private def fires(name: String)(body: => Unit): Unit = check(s"gate fires: $name") {
    val raised = try { body; false } catch { case _: GateFailure => true }
    assert(raised, "no GateFailure on a corrupted input")
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spec = Paths.get(args(1))

    check("percentile interpolates between closest ranks") {
      near(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50), 2.5)
      near(Stats.percentile((1 to 10).map(_.toDouble), 90), 9.1)
      near(Stats.percentile(Seq(7.0), 90), 7.0)
      near(Stats.percentile(Seq(1.0, 5.0), 0), 1.0)
      near(Stats.percentile(Seq(1.0, 5.0), 100), 5.0)
      near(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0)
    }
    check("percentile refuses an empty sample") {
      assert(scala.util.Try(Stats.percentile(Nil, 50)).isFailure)
    }
    check("self time subtracts the union of direct children") {
      val spans = Seq(
        Span(0, "batch", -1, 0, 100, "r"),
        Span(1, "a", 0, 10, 30, "r"),
        Span(2, "b", 0, 20, 50, "r"), // overlaps a: counted once
        Span(3, "c", 0, 60, 70, "r"),
        Span(4, "c.inner", 3, 62, 66, "r"),
        Span(5, "late", 0, 95, 120, "r")) // clipped to the parent
      val self = Stats.selfTimes(spans)
      assert(self(0) == 100 - 40 - 10 - 5, s"batch self ${self(0)}")
      assert(self(1) == 20 && self(2) == 30, s"leaf self ${self(1)}, ${self(2)}")
      assert(self(3) == 6, s"c self ${self(3)}")
      assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25)
    }
    check("coverage counts top-level spans inside the window") {
      val spans = Seq(Span(0, "batch", -1, 0, 40, "r"), Span(1, "x", 0, 0, 40, "r"),
        Span(2, "batch", -1, 50, 120, "r"))
      near(Stats.coverage(spans, 0, 100), 0.9)
    }
    check("metric names are well formed, unique, and match BENCHMARK.json") {
      val names = Main.EndToEnd.map(_._1) ++ Main.PerLayer.map(_._1)
      names.foreach(n => assert(n.matches(Main.NamePattern) && n.length <= 64, s"bad name $n"))
      assert(names.distinct.size == names.size, "duplicate metric name")
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(spec))
      def listed(k: String) = {
        val it = json.get(k).elements()
        val b = ArrayBuffer.empty[(String, String)]
        while (it.hasNext) { val m = it.next(); b += m.get("name").asText -> m.get("unit").asText }
        b.toSeq
      }
      assert(listed("end_to_end").toSet == Main.EndToEnd.toSet,
        s"end_to_end differs: ${listed("end_to_end")}")
      assert(listed("per_layer").toSet == Main.PerLayer.toSet,
        s"per_layer differs: ${listed("per_layer").toSet.diff(Main.PerLayer.toSet)}")
      val wl = json.get("workloads").elements()
      val declared = ArrayBuffer.empty[String]
      while (wl.hasNext) declared += wl.next().get("name").asText
      assert(declared.toSet == Workloads.all.keySet, s"workloads differ: $declared")
    }
    check("JSON writer escapes and refuses non-finite numbers") {
      assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
      assert(Json.num(2.0) == "2" && Json.num(2.5) == "2.5")
      assert(scala.util.Try(Json.num(Double.NaN)).isFailure)
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try gates(spark, work) finally spark.stop()

    if (failures.nonEmpty) {
      println(s"${failures.size} failed: ${failures.mkString("; ")}")
      sys.exit(1)
    }
    println("all perfbench self-tests passed")
  }

  private def gates(spark: SparkSession, work: java.nio.file.Path): Unit = {
    import Workloads._
    val ctx = Ctx(spark, new Tracer(false, "selftest", None), None, work, 5L, 1.0, "selftest")
    val loader = new Loader(ctx, work.resolve("load"), changeSchema(spark))
    loader.store.publish(seedDim(spark, 600, 80, ctx.seed))
    loader.stageMore(2, 200, 80, ctx.seed)
    loader.loadOne(loader.staged.map(_._1).toSeq)
    loader.loadOne(loader.staged.map(_._1).toSeq)

    check("an honest load passes every gate") {
      loader.gate("selftest")
    }
    val dim = loader.store.read().get.localCheckpoint()

    check("fingerprint is order-independent; an empty frame reads (0, 0)") {
      assert(Gates.fingerprint(dim) == Gates.fingerprint(dim.orderBy(desc(TIE))))
      assert(Gates.fingerprint(dim.limit(0)) == ((0L, 0L)))
    }

    val cur = Scd2.current(dim)
    val victim = cur.orderBy(K).limit(1)
    fires("a flipped payload cell in a current row") {
      val flipped = dim.exceptAll(victim)
        .unionByName(victim.withColumn("total_amount", col("total_amount") + 1))
      Gates.sameCurrentRows(flipped, dim, "selftest")
    }
    fires("a current row missing from the load") {
      Gates.sameCurrentRows(dim.exceptAll(victim), dim, "selftest")
    }
    fires("a duplicated current row") {
      Gates.scd2Invariants(dim.unionByName(victim.withColumn(TIE, col(TIE) + 1)), K, "selftest")
    }
    fires("overlapping validity intervals") {
      val closed = dim.filter(col("valid_to").isNotNull).orderBy(K, "valid_from").limit(1)
      val stretched = dim.exceptAll(closed).unionByName(
        closed.withColumn("valid_to", col("valid_to") + expr("INTERVAL 1 DAY")))
      Gates.scd2Invariants(stretched, K, "selftest")
    }
    fires("a replay that discovers a file") {
      Gates.replayNoOp(loader.store, loader.store.currentVersion(), 1, "selftest")
    }
    fires("a replay that moves the store version") {
      val before = loader.store.currentVersion()
      loader.store.publish(dim)
      Gates.replayNoOp(loader.store, before, 0, "selftest")
    }
    fires("a corrupted published version under the loader's gate") {
      loader.store.publish(dim.exceptAll(victim)
        .unionByName(victim.withColumn("order_status", lit("corrupted"))))
      loader.gate("selftest")
    }
    fires("a history query whose answer changed between repetitions") {
      val fp = Gates.fingerprint(cur)
      Gates.repeatable("current", fp, (fp._1, fp._2 ^ 1L))
    }
  }
}
