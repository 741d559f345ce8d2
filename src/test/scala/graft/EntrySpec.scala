package graft

import org.apache.hadoop.fs.Path

/** Driver-contract smoke: entry() rows>0; every query has consistent wiring. */
class EntrySpec extends SparkSuite {

  test("entry returns non-empty severity aggregates") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("ERROR", "WARN", "INFO")))
    assert(rows.map(_.getLong(1)).sum > 0)
  }

  test("every query key has an oracle or is documented rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("all queries run and are non-degenerate at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val emptyOk = Set("q_dedup_jaccard") // near-dup pair may not exist at tiny sf
    val sc = spark.sparkContext
    // q_bucketed_join's two managed tables, dropped with its scope
    val sfx = sc.applicationId.replaceAll("\\W", "_")
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(sc.hadoopConfiguration)
    val bjDirs = Seq(s"bj_docs_$sfx", s"bj_stats_$sfx").map(new Path(wh, _))
    SparkEntry.queries.foreach { case (name, fn) =>
      val before = sc.getPersistentRDDs.keySet.toSet
      val n = Staging.scope {
        val rows = fn(spark, dir).count()
        if (name == "q_bucketed_join")
          bjDirs.foreach(d => assert(fs.exists(d), s"$d not written"))
        rows
      }
      assert(n >= 0, s"$name failed")
      if (!emptyOk(name)) assert(n > 0, s"$name degenerate (0 rows) at sf0.001")
      val left = sc.getPersistentRDDs.keySet.toSet -- before
      assert(left.isEmpty, s"$name left ${left.size} staged RDDs after its scope")
    }
    bjDirs.foreach(d => assert(!fs.exists(d), s"$d left behind"))
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("bj_")))
  }
}
