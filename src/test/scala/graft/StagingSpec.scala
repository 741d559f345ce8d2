package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.operators.{Curation, Dedup, WebGraph}

class StagingSpec extends SparkSuite {
  import spark.implicits._

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Peak number of stages live while `f` runs in its own scope, sampled on
    * the driver each time a query is optimized, and the number of samples. */
  private def peakLive(f: => Unit): (Int, Int) = {
    val before = persistent
    val (peak, runs) = (new AtomicInteger, new AtomicInteger)
    val probe = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        peak.accumulateAndGet((persistent -- before).size, math.max)
        runs.incrementAndGet()
        plan
      }
    }
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved :+ probe
    try Staging.scope(f)
    finally spark.experimental.extraOptimizations = saved
    (peak.get, runs.get)
  }

  /** Stages `f` leaves behind when run on a fresh thread, which begins
    * outside every scope. */
  private def leftOutsideScope(f: => Unit): Int = {
    val before = persistent
    var err: Option[Throwable] = None
    val t = new Thread(() => try f catch { case e: Throwable => err = Some(e) })
    t.start(); t.join()
    err.foreach(e => throw e)
    (persistent -- before).size
  }

  test("Staging: a scope releases what was staged inside it, nested scopes " +
    "only their own; a released stage is gone, a table staged from it reads") {
    val before = persistent
    def live = (persistent -- before).size
    Staging.scope {
      val a = Staging(spark.range(10).toDF("x"))
      val b = Staging(a.select(($"x" * 2).as("y")))
      assert(live == 2)
      Staging.release(a)
      Staging.release(b.select($"y")) // not a stage itself: left alone
      assert(live == 1)
      assert(b.count() == 10, "lineage is cut at b")
      Staging.scope { Staging(b.filter($"y" > 4), eager = false); assert(live == 2) }
      assert(live == 1)
    }
    assert(live == 0)
  }

  test("loops release round k-1: pagerank, dedupClusters, dedupClustersStar " +
    "and bpeTrain hold as many live stages at 8 rounds as at 3") {
    val edges = Seq(("A", "B", 1L), ("A", "C", 1L), ("B", "C", 1L),
      ("C", "A", 1L)).toDF("src_domain", "dst_domain", "n_links")
    // min-label propagation needs one round per hop: 40 hops ≫ 8 rounds
    val chain = (1L to 40L).map(i => (i, i + 1)).toDF("id1", "id2")
    val docs = Seq((1L, ('a' to 'p').mkString(" ")), (2L, ('c' to 'x').mkString(" ")))
      .toDF("doc_id", "text")
    val loops: Seq[(String, Int => Unit)] = Seq(
      "pagerank" -> (n => WebGraph.pagerank(edges, n).collect()),
      "dedupClusters" -> (n => Dedup.dedupClusters(chain, maxIters = n).collect()),
      "dedupClustersStar" -> (n =>
        Dedup.dedupClustersStar(chain, maxIters = n).collect()),
      "bpeTrain" -> (n => Curation.bpeTrain(docs, "doc_id", "text", n).collect()))
    loops.foreach { case (name, run) =>
      val (live3, runs3) = peakLive(run(3))
      val (live8, runs8) = peakLive(run(8))
      assert(runs8 > runs3, s"$name ran no more rounds at 8 than at 3")
      assert(live3 == live8, s"$name: $live3 live stages at 3 rounds, $live8 at 8")
    }
  }

  test("bpeTrain and writeSignatureIndex leave no stage, even outside any scope") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    assert(leftOutsideScope(
      Curation.bpeTrain(docs, "doc_id", "text", iters = 4).collect()) == 0)
    assert(leftOutsideScope(Dedup.writeSignatureIndex(docs, "doc_id", "text",
      tmpDir("sigidx"))) == 0)
  }

  test("source scan: localCheckpoint, persist and unpersist are called only " +
    "in Staging") {
    // string and char literals are kept (so a quote cannot open a comment),
    // comments are blanked
    val token = """"{3}[\s\S]*?"{3}|"(?:\\.|[^"\\\n])*"|'(?:\\.|[^'\\\n])'|//[^\n]*|/\*[\s\S]*?\*/""".r
    val call = """localCheckpoint\(|\.persist\(|unpersist\(""".r
    def calls(f: java.nio.file.Path): Seq[String] = call.findAllMatchIn(
      token.replaceAllIn(Files.readString(f), m =>
        if (m.matched.startsWith("/")) " "
        else scala.util.matching.Regex.quoteReplacement(m.matched)))
      .map(_.matched).toSeq
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val (seam, rest) = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .partition(_.endsWith("graft/Staging.scala"))
    // the seam's own doc comment names `df.localCheckpoint(eager)` too
    assert(seam.flatMap(calls) == Seq("localCheckpoint(", "unpersist("))
    val hits = rest.flatMap(f => calls(f).map(c => s"${root.relativize(f)}: $c"))
    assert(hits.isEmpty, hits.mkString("staging outside Staging: ", ", ", ""))
  }
}
