package graft.perfbench

import graft.sources.HtmlListingParser

/** Self-tests of the benchmark's own arithmetic and generator; no
  * Spark session. Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    if (scala.util.Try(cond).getOrElse(false)) passed += 1
    else { failures += 1; System.err.println(s"[selftest] FAIL $name") }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // --- order statistics --------------------------------------------
    check("median odd")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("no tail rank with 10 samples")(Stats.tailRank(10).isEmpty)
    check("11 samples: lowest rank, 10 above it")(
      Stats.tailRank(11).exists { case (i, p) => i == 0 && close(p, 100.0 / 11) })
    check("100 samples: p90 at index 89")(
      Stats.tailRank(100).exists { case (i, p) => i == 89 && close(p, 90.0) })
    check("40 samples: p75 at index 29")(
      Stats.tailRank(40).exists { case (i, p) => i == 29 && close(p, 75.0) })
    val xs = (1 to 40).map(_.toDouble).reverse
    check("tail value has exactly 10 samples beyond it") {
      val (v, p, n) = Stats.tail(xs)
      v == 30.0 && xs.count(_ > v) == 10 && close(p, 75.0) && n == 40
    }
    check("tail falls back to the maximum")(Stats.tail(Seq(1.0, 5.0, 2.0)) == ((5.0, 100.0, 3)))

    // --- span self time ----------------------------------------------
    def sp(id: Int, parent: Int, a: Long, b: Long) =
      Span(id, s"s$id", "op", 1, parent, a, b, 0L, 0L)
    // root [0,100] > a [10,40], b [40,90] > c [50,60]
    val tree = Seq(sp(0, -1, 0, 100), sp(1, 0, 10, 40), sp(2, 0, 40, 90), sp(3, 2, 50, 60))
    val self = Spans.selfNs(tree)
    check("root self = wall - children")(self(0) == 20L)
    check("leaf self = its duration")(self(1) == 30L && self(3) == 10L)
    check("inner self excludes grandchildren once")(self(2) == 40L)
    check("self times sum to the wall")(self.values.sum == 100L)
    check("self-sum error against a longer wall")(
      close(Spans.selfSumError(tree, 125L), 0.2))
    check("job group round trip")(
      Tracer.parse(Tracer.group(3, "q_graph_kcore", "queries.plan_build")) ==
        Some((3, "q_graph_kcore", "queries.plan_build")))
    check("foreign job group is not ours")(Tracer.parse("other").isEmpty)

    // --- driver-gap interval union -----------------------------------
    val jobs = Seq(JobRec(1, "", 10, 20, Nil), JobRec(2, "", 15, 30, Nil),
      JobRec(3, "", 50, 60, Nil), JobRec(4, "", 95, 120, Nil))
    check("covered time merges overlaps and clips to the window")(
      SparkLayer.coveredMs(jobs, 0, 100) == 20 + 10 + 5)

    // --- generator ----------------------------------------------------
    def run(seed: Long, cycles: Int) = {
      val g = new ScrapeGen(seed, 600)
      (0 until cycles).map(_ => (g.advance(), g.pages, g.expectedKeys))
    }
    val a = run(7, 4)
    check("same seed, same pages and transitions")(a == run(7, 4))
    check("another seed, other pages")(a.map(_._2) != run(8, 4).map(_._2))
    check("cycle 0 lists everything as new")(
      a.head._1.newMls.size == 600 && a.head._1.changedMls.isEmpty)
    check("steady cycle: 5% off market, 10% re-priced, 5% new") {
      val t = a(1)._1
      t.droppedMls.size == 30 && t.changedMls.size == 60 && t.newMls.size == 30
    }
    check("transitions are disjoint") {
      a.drop(1).forall { case (t, _, _) =>
        (t.newMls & t.changedMls).isEmpty && (t.changedMls & t.droppedMls).isEmpty &&
          (t.newMls & t.droppedMls).isEmpty
      }
    }
    val g = new ScrapeGen(11, 600)
    g.advance()
    val before = g.pages.flatMap(p => HtmlListingParser.parseUre(p._2)).map(l => l.mls -> l).toMap
    val t1 = g.advance()
    val pages = g.pages
    val parsed = pages.flatMap(p => HtmlListingParser.parseUre(p._2))
    check("the URE parser reads one row per rendered block")(parsed.size == g.liveCount)
    check("parsed zip matches the page zip")(
      pages.forall(p => HtmlListingParser.parseUre(p._2).forall(_.zip.contains(p._1))))
    check("parsed rows carry agent and broker") (parsed.forall(l =>
      l.agent_name.nonEmpty && l.agent_phone.nonEmpty && l.broker_name.nonEmpty && l.price > 0))
    check("re-priced listings parse to a different price")(
      t1.changedMls.forall(m => parsed.find(_.mls == m).exists(_.price != before(m).price)))
    check("unchanged listings parse to the same price")(
      parsed.filterNot(l => t1.changedMls(l.mls) || t1.newMls(l.mls))
        .forall(l => before(l.mls).price == l.price))
    check("expected graph keys grow with new listings")(
      g.expectedKeys("Listing|") == 630 && g.expectedKeys("AGENT_OF|") == 630)

    System.err.println(s"[selftest] $passed passed, $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
