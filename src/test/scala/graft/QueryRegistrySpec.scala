package graft

/** Every registered query must build and return rows on the smallest fixture
  * tier — the cheap local twin of the driver's smoke + correctness gates.
  * (Value-level correctness is the DuckDB differential gate's job.) */
class QueryRegistrySpec extends SparkSpec {

  test("registry names are unique and well-formed") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
    assert(names.forall(_.matches("q\\d+[a-z0-9_]*")))
  }

  // hard-coded name lists the harness mains act on: a renamed query must
  // fail here, not drop silently out of Bench's pre-stage or staging
  // warm-ups or crash the plan dump
  test("FileStreamQueries names all exist in the registry (Bench pre-stage gate)") {
    val names = SparkEntry.registry.map(_.name).toSet
    val missing = graft.streaming.StreamingOps.FileStreamQueries.filterNot(names)
    assert(missing.isEmpty, s"stale FileStreamQueries entries: $missing")
  }

  for ((list, listed) <- Seq(
      "Bench.StagedFixtureQueries" -> Bench.StagedFixtureQueries,
      "PlanDump.DefaultQueries" -> PlanDump.DefaultQueries)) {
    test(s"$list names all exist in the registry and are distinct") {
      val names = SparkEntry.registry.map(_.name).toSet
      val missing = listed.filterNot(names)
      assert(missing.isEmpty, s"stale $list entries: $missing")
      assert(listed.distinct === listed, s"duplicate $list entries")
    }
  }

  test("every query has a doc string; oracles are non-empty SQL") {
    SparkEntry.registry.foreach { q =>
      assert(q.doc.trim.nonEmpty, q.name)
      q.oracle.foreach(sql => assert(sql.toUpperCase.contains("SELECT"), q.name))
    }
  }

  test("flagship entry returns rows (driver t1 contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  /** Detectors whose CORRECT answer on the tiny clean fixture is empty:
    * q124 flags 3-sigma outliers and sf0.001's series contain none (the
    * sf0.01 oracle gate and PipelineOpsSpec check the non-empty case). */
  private val emptyOkAtSmoke = Set("q124_rolling_anomaly")

  for (q <- SparkEntry.registry) {
    test(s"${q.name} builds and returns rows on sf0.001") {
      val df = q.build(spark, sf)
      if (emptyOkAtSmoke(q.name)) df.count() // must still build and run
      else assert(df.count() > 0, s"${q.name} returned no rows")
    }
  }
}
