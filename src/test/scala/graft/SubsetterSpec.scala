package graft

import graft.config._
import graft.engine.{Catalog, Ops, Subsetter}
import graft.queries.SubsetQueries

/** End-to-end middle-out subsetter tests on sf0.001 (SURVEY.md §5 items 3-4):
  * referential closure, subset property, passthrough equality, phase
  * behaviors (breaks, caps, disconnected handling).
  */
class SubsetterSpec extends SparkSpecBase {

  private lazy val source = Catalog.load(spark, sfDir, SubsetQueries.starTables)
  private lazy val fks = SubsetQueries.fixtureFks

  private def closureOrphans(dest: Map[String, org.apache.spark.sql.DataFrame]): Long =
    fks.map { fk =>
      Ops.antiJoin(
        dest(fk.fkTable).na.drop("any", fk.fkCols),
        fk.fkCols, dest(fk.targetTable), fk.targetCols).count()
    }.sum

  test("fixture config: closure holds, ratios as expected") {
    val dest = new Subsetter(SubsetQueries.fixtureConfig, source).run()
    assert(dest("orders").count() == 150)
    assert(dest("region").count() == 5)
    assert(closureOrphans(dest) == 0)
    // subset property: orders ⊆ source by PK
    assert(Ops.antiJoin(dest("orders"), Seq("o_orderkey"),
      source("orders"), Seq("o_orderkey")).count() == 0)
  }

  test("percent targets: seeded, closed, ratio band") {
    val cfg = SubsetQueries.fixtureConfig.copy(
      initialTargets = Seq(InitialTarget("orders", percent = Some(10.0))))
    val dest = new Subsetter(cfg, source).run()
    val n = dest("orders").count()
    assert(n > 50 && n < 350)
    assert(closureOrphans(dest) == 0)
  }

  test("max_rows_per_table caps upstream and passthrough phases") {
    val cfg = SubsetQueries.fixtureConfig.copy(maxRowsPerTable = Some(100L))
    val dest = new Subsetter(cfg, source).run()
    assert(dest("lineitem").count() <= 100) // upstream capped
    assert(dest("region").count() == 5)     // passthrough under cap
  }

  test("dependency break NULLs FK columns and un-cycles the graph") {
    // break lineitem→part: lineitem.l_partkey must be NULL everywhere
    val cfg = SubsetQueries.fixtureConfig.copy(
      dependencyBreaks = Seq(BreakSpec("lineitem", "part")))
    val dest = new Subsetter(cfg, source).run()
    assert(dest("lineitem").count() > 0)
    assert(dest("lineitem").filter("l_partkey IS NOT NULL").count() == 0)
    // part no longer pulled downstream by lineitem
    assert(dest("part").count() == 0)
  }

  test("opportunistic break preserves FK values") {
    val cfg = SubsetQueries.fixtureConfig.copy(
      dependencyBreaks = Seq(
        BreakSpec("lineitem", "part", preserveFkOpportunistically = true)))
    val dest = new Subsetter(cfg, source).run()
    assert(dest("lineitem").filter("l_partkey IS NOT NULL").count() > 0)
  }

  test("disconnected tables copied in full iff keep_disconnected_tables") {
    val full = Catalog.loadDir(spark, sfDir) // includes documents/events/embeddings
    val kept = new Subsetter(
      SubsetQueries.fixtureConfig.copy(keepDisconnectedTables = true), full).run()
    assert(kept("documents").count() == full("documents").count())
    val dropped = new Subsetter(SubsetQueries.fixtureConfig, full).run()
    assert(dropped("documents").count() == 0)
  }

  test("excluded tables never appear in the destination") {
    val cfg = SubsetQueries.fixtureConfig.copy(
      excludedTables = Seq("part"),
      dependencyBreaks = Seq(BreakSpec("lineitem", "part")))
    val dest = new Subsetter(cfg, source).run()
    assert(!dest.contains("part"))
  }

  test("empty direct sample: all connected tables come out empty, no errors") {
    val cfg = SubsetQueries.fixtureConfig.copy(
      initialTargets = Seq(InitialTarget("orders", where = Some("o_orderkey < 0"))))
    val dest = new Subsetter(cfg, source).run()
    assert(dest("orders").count() == 0)
    assert(dest("lineitem").count() == 0)
    assert(dest("customer").count() == 0)
    assert(dest("region").count() == 5) // passthrough unaffected
  }

  test("schema-qualified table names resolve to bare parquet files") {
    import graft.graph.Fk
    val qSource = Map(
      "main.orders" -> source("orders"),
      "main.lineitem" -> source("lineitem"))
    val cfg = SubsetConfig(
      initialTargets = Seq(
        InitialTarget("main.orders", where = Some("o_orderkey % 10 = 0"))),
      fkAugmentation = Seq(
        Fk("main.lineitem", Seq("l_orderkey"), "main.orders", Seq("o_orderkey"))))
    val dest = new Subsetter(cfg, qSource).run()
    assert(dest("main.orders").count() == 150)
    assert(dest("main.lineitem").count() > 0)
    assert(graft.engine.Catalog.tableName("main.orders") == "orders")
    assert(graft.engine.Catalog.schemaName("main.orders").contains("main"))
  }

  test("runner reads config from stdin for '-' / '--stdin' (direct_subset.py parity)") {
    import graft.engine.SubsetRunner
    val json =
      """{"initial_targets": [{"table": "orders", "where": "o_orderkey % 10 = 0"}],
        | "fk_augmentation": [], "passthrough_tables": ["region"]}""".stripMargin
    def in() = new java.io.ByteArrayInputStream(
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(SubsetRunner.readConfigSource("-", in()) == json)
    assert(SubsetRunner.readConfigSource("--stdin", in()) == json)
    // and the stdin text parses into the same config a file would give
    val cfg = SubsetConfig.fromJson(SubsetRunner.readConfigSource("-", in()))
    assert(cfg.initialTargets.map(_.table) == Seq("orders"))
    assert(cfg.passthroughTables == Seq("region"))
    // a real path argument still reads the file, not stdin
    val f = java.nio.file.Files.createTempFile("graft_cfg", ".json")
    java.nio.file.Files.writeString(f, json)
    assert(SubsetRunner.readConfigSource(f.toString,
      new java.io.ByteArrayInputStream(Array.emptyByteArray)) == json)
  }

  test("job budget: a repeated fixture run plus a source-vs-source report runs no Spark job") {
    import graft.engine.{Report, SubsetRunner}
    // every sf0.001 table is below the 50k-row checkpoint threshold, so with
    // schemas and row counts taken from Parquet metadata nothing here runs
    // a job; the untimed first run reads each table's schema once
    def once(): Unit = {
      val res = SubsetRunner.run(spark, SubsetQueries.fixtureConfig, sfDir)
      Report.tabulate(res.source, res.source)
    }
    once()
    val metrics = TaskMetrics(spark)
    try {
      val before = metrics.snap()
      once()
      val d = metrics.snap() - before
      assert(d.jobs == 0, d.jobLog)
    } finally spark.sparkContext.removeSparkListener(metrics)
  }

  test("determinism: two runs produce identical orders output") {
    val d1 = new Subsetter(SubsetQueries.fixtureConfig, source).run()
    val d2 = new Subsetter(SubsetQueries.fixtureConfig, source).run()
    assert(d1("lineitem").exceptAll(d2("lineitem")).count() == 0)
    assert(d2("lineitem").exceptAll(d1("lineitem")).count() == 0)
  }

  test("composite-key config: two-column closure holds end-to-end") {
    val src = SubsetQueries.compositeSourceFor(spark, sfDir)
    val dest = new Subsetter(SubsetQueries.compositeConfig, src).run()
    // target is a real (non-trivial, non-total) sample of the derived table
    val nSel = dest("partsupp").count()
    assert(nSel > 0 && nSel < src("partsupp").count())
    // composite closure: every lineitem (l_partkey, l_suppkey) pair must
    // resolve in the selected partsupp — the TWO-COLUMN semi-join is what
    // this scenario exists to exercise through the full middle-out run
    assert(Ops.antiJoin(dest("lineitem"), Seq("l_partkey", "l_suppkey"),
      dest("partsupp"), Seq("ps_partkey", "ps_suppkey")).count() == 0)
    // and the converse: lineitem was pulled for EVERY selected pair
    assert(Ops.antiJoin(dest("partsupp"), Seq("ps_partkey", "ps_suppkey"),
      dest("lineitem"), Seq("l_partkey", "l_suppkey")).count() == 0)
    // single-column downstream closures off both sides of the composite key
    for ((fkT, fkC, tgtT, tgtC) <- Seq(
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("partsupp", "ps_partkey", "part", "p_partkey"),
        ("partsupp", "ps_suppkey", "supplier", "s_suppkey")))
      assert(Ops.antiJoin(dest(fkT), Seq(fkC), dest(tgtT), Seq(tgtC))
        .count() == 0, s"$fkT.$fkC -> $tgtT.$tgtC orphans")
    // subset property on the composite PK itself
    assert(Ops.antiJoin(dest("partsupp"), Seq("ps_partkey", "ps_suppkey"),
      src("partsupp"), Seq("ps_partkey", "ps_suppkey")).count() == 0)
  }
}
