package perfbench

import java.nio.file.{Files, Path, Paths}
import graft.config.SubsetConfig
import graft.graph.Fk
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: output checks, the metric names it emits,
  * its seeded inputs and its layer spans.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Sessions.build(Sessions.subsetSettings
    .map { case ("spark.master", _) => "spark.master" -> "local[2]"; case kv => kv })

  private lazy val workDir: Path = Files.createTempDirectory(Paths.get("target"), "harness-spec")

  /** A tiny generated catalog, shared by the tests that run real ops. */
  private lazy val tiny: String = {
    val dir = workDir.resolve("sf0.001").toString
    Fixture.generate(spark, 0.001, dir)
    dir
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    Runner.deleteTree(workDir)
  }

  private val orderFk = Fk("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey"))

  test("closure check flags a planted dangling row") {
    import spark.implicits._
    val cfg = SubsetConfig(initialTargets = Nil, fkAugmentation = Seq(orderFk))
    val orders = Seq(1L, 2L).toDF("o_orderkey")
    val closed = Seq(1L, 2L, 2L).toDF("l_orderkey")
    val planted = Seq(1L, 2L, 3L).toDF("l_orderkey")
    assert(Checks.danglingRefs(cfg, Map("orders" -> orders, "lineitem" -> closed)) == Seq(orderFk -> 0L))
    assert(Checks.danglingRefs(cfg, Map("orders" -> orders, "lineitem" -> planted)) == Seq(orderFk -> 1L))

    // and through the written-catalog check a subset op's output goes through
    val out = workDir.resolve("planted").toString
    orders.write.parquet(s"$out/orders.parquet")
    planted.write.parquet(s"$out/lineitem.parquet")
    val (_, problems) = Checks.subsetProblems(spark, cfg,
      Map("orders" -> 2L, "lineitem" -> 3L), out,
      Seq(graft.engine.Report.TableReport("lineitem", 3L, 3L),
        graft.engine.Report.TableReport("orders", 2L, 2L)))
    assert(problems == Seq("1 dangling lineitem(l_orderkey) -> orders"))
  }

  test("emitted metric names equal the names in BENCHMARK.json") {
    val bench = JsonMethods.parse(Files.readString(Paths.get("../../BENCHMARK.json")))
    def declared(key: String): Seq[(String, String)] = (bench \ key) match {
      case JArray(xs) => xs.map(m => ((m \ "name").values.toString, (m \ "unit").values.toString))
      case _ => Nil
    }
    val workloads = (bench \ "workloads" \ "name") match {
      case JArray(xs) => xs.map(_.values.toString)
      case other => Seq(other.values.toString)
    }
    assert(workloads == Workloads.Names)

    val span = LayerSpan("subset_run", 0L, 10L, 0.01)
    val op = OpRec(0, "subset_closure", traced = true, 0L, 10L, 0.01, 0.0, 0.0, 0.0,
      Seq(span), Nil, Layers.attribute(Seq(span), Nil, Nil, Nil, Nil, 0L), Nil)
    def emitted(trace: Boolean): Seq[(String, String)] = {
      val rec = Results.record("subset_closure", 0L, 1, trace, 1.0, 1.0, 100L,
        Seq(op, op.copy(id = 1, traced = false)), Nil, Map.empty, Map.empty)
      rec("metrics").asInstanceOf[Map[String, Map[String, Any]]].toSeq
        .map { case (n, m) => n -> m("unit").toString }
    }
    assert(emitted(trace = false).sorted == declared("end_to_end").sorted)
    assert(emitted(trace = true).sorted == declared("per_layer").sorted)
  }

  test("the Harrell-Davis median follows the middle of the sample, not one value") {
    assert(Results.hdMedian(Seq(2.0)) == 2.0)
    assert(math.abs(Results.hdMedian(Seq(1.0, 2.0, 3.0)) - 2.0) < 1e-9)
    // a gap beside the middle value moves it only part of the way
    val m = Results.hdMedian(Seq(1.0, 1.1, 1.2, 2.0, 2.1, 2.2, 2.3))
    assert(m > 1.2 && m < 2.0 && math.abs(m - 2.0) > 0.1, m)
    assert(Results.hdMedian(Nil).isNaN)
  }

  test("configs from two seeds differ only in the seeded field") {
    val (a, b) = (Workloads.closureConfigJson(3), Workloads.closureConfigJson(4))
    assert(a.replace("o_orderkey % 10 = 3", "SEEDED") == b.replace("o_orderkey % 10 = 4", "SEEDED"))
    val (ca, cb) = (SubsetConfig.fromJson(a), SubsetConfig.fromJson(b))
    assert(ca.initialTargets.map(_.where) == Seq(Some("o_orderkey % 10 = 3")))
    assert(ca.copy(initialTargets = cb.initialTargets) == cb)
    // the unseeded rest is the fixture config the program ships
    assert(cb == graft.queries.SubsetQueries.fixtureConfig.copy(initialTargets = cb.initialTargets))
    // and the key order is a seeded shuffle of one fixed key set
    assert(Workloads.keyOrder(3, 0) == Workloads.keyOrder(3, 0))
    assert(Workloads.keyOrder(3, 0) != Workloads.keyOrder(4, 0))
    assert(Workloads.keyOrder(4, 0).sorted == Workloads.OpsMixKeys.sorted)
  }

  test("layer spans cover at least 95% of each traced op's wall time") {
    val expected = workDir.resolve("expected.json").toString
    Main.recordExpected(spark, tiny, expected)
    for (w <- Workloads.Names) {
      val rec = Runner(w, 7L, 0, trace = true, tiny, workDir.resolve(s"out-$w").toString,
        expected).run()
      assert(rec("failed") == 0, rec("run"))
      val metrics = rec("metrics").asInstanceOf[Map[String, Map[String, Any]]]
      val coverage = metrics("op.span_coverage")("value").asInstanceOf[Double]
      assert(coverage >= 0.95, s"$w: layer spans cover $coverage of op wall time")
      val layers = if (w == "ops_mix") Seq("query_build", "query_exec")
        else Seq("subset_run", "catalog_save", "report_tabulate")
      layers.foreach(l => assert(metrics(s"$l.wall_s")("value").asInstanceOf[Double] > 0, l))
      assert(metrics(s"${layers.last}.jobs")("value").asInstanceOf[Double] > 0)
    }
  }
}
