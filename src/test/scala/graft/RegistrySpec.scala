package graft

class RegistrySpec extends SparkSpec {

  test("query names are unique and oracle keys subset of queries") {
    assert(Registry.byName.size == Registry.all.size)
    val qNames = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qNames))
  }

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registered query runs on sf0.001") {
    val failures = Registry.all.flatMap { q =>
      try { q.run(spark, sfDir).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("q_kcore_gate certifies the k-core on sf0.001") {
    // the gate's rows are its checks; a wrong peel or k flips one
    val rows = Registry.byName("q_kcore_gate").run(spark, sfDir).collect()
    assert(rows.length == 4 && rows.forall(_.getAs[Boolean]("ok")),
      rows.mkString(", "))
  }
}
