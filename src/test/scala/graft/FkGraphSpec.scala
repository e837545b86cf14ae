package graft

import graft.graph._
import org.scalatest.funsuite.AnyFunSuite

class FkGraphSpec extends AnyFunSuite {

  // The fixture FK graph (FIXTURES.md): strata should be
  // {region} → {nation} → {customer, supplier, part} → {orders} → {lineitem}
  private val fixtureFks = Seq(
    Fk("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
    Fk("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey")),
    Fk("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey")),
    Fk("orders", Seq("o_custkey"), "customer", Seq("c_custkey")),
    Fk("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
    Fk("lineitem", Seq("l_partkey"), "part", Seq("p_partkey")),
    Fk("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey")))

  test("topoStrata orders fixture graph downstream-first") {
    val strata = FkGraph.topoStrata(fixtureFks, Set.empty, Set.empty)
    // `part` depends on nothing, so it joins `region` in stratum 0 — this is
    // what the reference's toposort library produces too
    assert(strata == List(
      Set("region", "part"),
      Set("nation"),
      Set("customer", "supplier"),
      Set("orders"),
      Set("lineitem")))
  }

  test("topoStrata restricts to in-scope tables") {
    val strata = FkGraph.topoStrata(
      fixtureFks, Set("orders", "lineitem", "customer"), Set.empty)
    assert(strata == List(Set("customer"), Set("orders"), Set("lineitem")))
  }

  test("topoStrata rejects self-loop") {
    val e = intercept[IllegalArgumentException] {
      FkGraph.topoStrata(Seq(Fk("a", Seq("x"), "a", Seq("y"))), Set.empty, Set.empty)
    }
    assert(e.getMessage.contains("depends on itself"))
  }

  test("topoStrata rejects cycles, break resolves them") {
    val cyclic = Seq(
      Fk("a", Seq("x"), "b", Seq("y")),
      Fk("b", Seq("y"), "a", Seq("x")))
    intercept[IllegalArgumentException] {
      FkGraph.topoStrata(cyclic, Set.empty, Set.empty)
    }
    val broken = FkGraph.topoStrata(
      cyclic, Set.empty, Set(DependencyBreak("b", "a")))
    assert(broken == List(Set("b"), Set("a")))
  }

  test("upstreamTables = strata strictly after first target stratum") {
    val strata = FkGraph.topoStrata(fixtureFks, Set.empty, Set.empty)
    assert(FkGraph.upstreamTables(Seq("orders"), strata) == List("lineitem"))
    assert(FkGraph.upstreamTables(Seq("customer"), strata) ==
      List("orders", "lineitem"))
    assert(FkGraph.upstreamTables(Seq("lineitem"), strata) == Nil)
  }

  test("downstreamTables reversed, passthrough/disconnected removed") {
    val strata = FkGraph.topoStrata(fixtureFks, Set.empty, Set.empty)
    val down = FkGraph.downstreamTables(Seq("region"), Nil, strata)
    assert(down.head == "lineitem")
    assert(down.last == "part")
    assert(!down.contains("region"))
    assert(down.toSet ==
      Set("lineitem", "orders", "customer", "supplier", "part", "nation"))
  }

  test("disconnectedTables via union-find; broken edges still connect") {
    val all = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val disc = FkGraph.disconnectedTables(Seq("orders"), Seq("region"), all, fixtureFks)
    assert(disc.toSet == Set("events", "documents", "embeddings"))
    // an isolated table named as passthrough is NOT disconnected
    val disc2 = FkGraph.disconnectedTables(Seq("orders"), Seq("events"), all, fixtureFks)
    assert(disc2.toSet == Set("documents", "embeddings"))
  }

  test("redact removes only listed edges") {
    val redacted = FkGraph.redact(fixtureFks, Set(DependencyBreak("lineitem", "part")))
    assert(redacted.size == fixtureFks.size - 1)
    assert(!redacted.exists(r => r.fkTable == "lineitem" && r.targetTable == "part"))
  }

  test("union-find path compression handles chains") {
    val uf = new UnionFind
    (1 to 100).foreach(i => uf.makeSet(s"t$i"))
    (1 until 100).foreach(i => uf.link(s"t$i", s"t${i + 1}"))
    assert((1 to 100).map(i => uf.find(s"t$i")).toSet == Set(uf.find("t1")))
  }
}
