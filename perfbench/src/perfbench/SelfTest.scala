package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.Random

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Prints one line per test and returns the number that failed.
  */
object SelfTest {
  private def rejects(body: => Any): Boolean =
    try { body; false } catch { case _: CheckFailed => true }

  private def sameFiles(a: File, b: File): Boolean =
    a.list().sorted.sameElements(b.list().sorted) && a.list().forall(n =>
      java.util.Arrays.equals(Files.readAllBytes(new File(a, n).toPath), Files.readAllBytes(new File(b, n).toPath)))

  def run(scratch: File): Int = {
    val tests = Seq[(String, () => Boolean)](
      "same seed gives identical inputs, another seed different ones" -> { () =>
        val dirs = Seq(1L, 1L, 2L).zipWithIndex.map { case (s, i) =>
          val d = new File(scratch, s"gen-$i"); Gen.archive(d, s, 20, 100); d }
        val (c1, c2, c3) = (Gen.corpus(1, 300), Gen.corpus(1, 300), Gen.corpus(2, 300))
        val (v1, v2, v3) = (new Gen.VecSpace(1), new Gen.VecSpace(1), new Gen.VecSpace(2))
        def vecs(v: Gen.VecSpace) = (v.base(50) ++ v.delta(3, 10) ++ v.probes(2, 10)).map(x => (x.id, x.v.toSeq)).toSeq
        sameFiles(dirs(0), dirs(1)) && !sameFiles(dirs(0), dirs(2)) &&
          c1 == c2 && c1.docs != c3.docs && vecs(v1) == vecs(v2) && vecs(v1) != vecs(v3)
      },
      "probe and delta ids are disjoint from corpus ids" -> { () =>
        val v = new Gen.VecSpace(5)
        val base = v.base(3000).map(_.id).toSet
        val others = (0 until 50).flatMap(i => v.delta(i, 1000).map(_.id) ++ v.probes(i, 100).map(_.id))
        others.forall(id => !base.contains(id)) && others.distinct.length == others.length
      },
      "tail is the highest percentile with ten samples beyond it" -> { () =>
        Stats.tail((1 to 20).map(_.toDouble)) == Some((50, 10.0)) &&
          Stats.tail(Random.shuffle((1 to 100).map(_.toDouble))) == Some((90, 90.0)) &&
          Stats.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)) &&
          Stats.tail((1 to 10).map(_.toDouble)).isEmpty
      },
      "listener counters land on the span that caused them" -> { () =>
        val spark = Main.session(new File(scratch, "spark"))
        val tracer = new Tracer(spark)
        tracer.enable()
        val (_, a) = tracer.span("a")(spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect())
        val (_, b) = tracer.span("b")(spark.sparkContext.parallelize(1 to 100, 5).map(_ * 2).count())
        val (_, outer) = tracer.span("outer") {
          tracer.span("inner")(spark.sparkContext.parallelize(1 to 10, 7).count())._2
        }
        tracer.disable()
        val (_, off) = tracer.span("off")(spark.sparkContext.parallelize(1 to 10, 2).count())
        b.jobs == 1 && b.tasks == 5 && b.stages == 1 && a.jobs >= 1 && a.tasks >= 3 &&
          a.planningS > 0 && b.planningS == 0 && outer.tasks == 0 && off.tasks == 0
      },
      "search check rejects a missing, doubled or unpassed row" -> { () =>
        val asked = Seq("q0" -> Seq("s1", "s2"), "q1" -> Seq("s3"))
        val ok = Seq(("q0", "s1", true), ("q0", "s2", false), ("q1", "s3", true))
        val planted = Set("s1", "s2")
        StarFamily.opDir("file:/w/sinks/12/status/part-0.parquet") == "12" &&
          StarFamily.checkSearch(asked, ok, Set("s1", "s3"), planted) == (1L, 1L, 1L) &&
          rejects(StarFamily.checkSearch(asked, ok.drop(1), Set.empty, planted)) &&
          rejects(StarFamily.checkSearch(asked, ok :+ ok.head, Set.empty, planted)) &&
          rejects(StarFamily.checkSearch(asked, ok, Set("s2"), planted))
      },
      "corpus checks reject unconserved manifests, leaked duplicates and split clusters" -> { () =>
        val c = Gen.corpus(3, 300)
        val nonEval = c.docs.filter(_.source != "src0").map(_.id)
        val written = nonEval.filterNot(c.dupIds).filterNot(c.flagged).filterNot(c.contaminated)
        val m = Map("n_input" -> nonEval.length.toLong, "n_quality_flagged" -> c.flagged.size.toLong,
          "n_contaminated" -> c.contaminated.size.toLong, "n_dups" -> c.dupIds.size.toLong,
          "n_kept" -> written.length.toLong, "n_curated" -> written.length.toLong,
          "n_fully_scrubbed_dropped" -> 0L)
        val canon = c.docs.map(d => d.id -> c.exactDups.getOrElse(d.id, d.id)).toMap
        val okBuild = !rejects(CorpusFamily.checkBuild(c, m, written))
        okBuild &&
          rejects(CorpusFamily.checkBuild(c, m + ("n_dups" -> (m("n_dups") - 1)), written)) &&
          rejects(CorpusFamily.checkBuild(c, m, written.drop(1))) &&
          rejects(CorpusFamily.checkBuild(c, m, written.init :+ c.dupIds.head)) &&
          !rejects(CorpusFamily.checkNearDup(c, canon)) &&
          rejects(CorpusFamily.checkNearDup(c, canon + (c.dupIds.head -> -1L)))
      },
      "serve check rejects short results and low recall" -> { () =>
        val v = new Gen.VecSpace(4)
        val stored = v.base(300).toSeq
        val probes = v.probes(0, 10).toSeq
        val exact = VectorFamily.exactTopK(probes, stored, 3)
        val got = probes.flatMap(p => exact(p.id).toSeq.map(p.id -> _))
        val wrong = probes.flatMap(p => stored.filterNot(s => exact(p.id)(s.id)).take(3).map(s => p.id -> s.id))
        VectorFamily.checkServe(probes, got, stored, 3, 0.5) == 30 &&
          rejects(VectorFamily.checkServe(probes, got.drop(1), stored, 3, 0.5)) &&
          rejects(VectorFamily.checkServe(probes, wrong, stored, 3, 0.5))
      })
    val failed = tests.count { case (name, t) =>
      val ok = try t() catch { case e: Exception => println(s"  $e"); false }
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      !ok
    }
    println(s"${tests.length - failed}/${tests.length} self-tests passed")
    failed
  }
}
