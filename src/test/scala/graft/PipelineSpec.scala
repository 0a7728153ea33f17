package graft

import graft.model.Listing
import graft.operators.{ScrapePipeline, Skew}
import graft.sinks.InMemoryGraphWriter
import graft.sources.FixtureSource
import org.apache.spark.sql.functions._

/** EP1 end-to-end (fixture pages → parse → union → dedup → CDC →
  * graph) and the skew utilities. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def urePage(mls: String, price: String): String =
    s"""<table class="public-detail-quickview">
       |<span class="mls">$mls</span><span class="price">$price</span>
       |<span class="agent-name">Jane Doe</span>
       |<span class="agent-phone">(801) 555-0001</span>
       |<span class="broker-name">Acme</span>
       |</table>""".stripMargin

  test("EP1 cycle: parse → dedup → CDC → graph, two cycles end-to-end") {
    val now = 1700000000L
    val c1 = Seq(
      ("84601", urePage("A", "$100,000") + urePage("B", "$200,000")),
      ("84058", urePage("B", "$200,000"))) // dup mls across zips → dedup
      .toDF("zip", "html")
    val c2 = Seq(
      ("84601", urePage("A", "$90,000"))) // price drop; B disappears
      .toDF("zip", "html")
    val empty = new FixtureSource(Seq.empty[(String, String)].toDF("zip", "html"))

    InMemoryGraphWriter.clear()
    val writer = new InMemoryGraphWriter

    val r1 = ScrapePipeline.runCycle(spark, new FixtureSource(c1), empty,
      Seq("84601", "84058"), spark.emptyDataset[Listing], now, Some(writer))
    assert(r1.events.collect().map(e => (e.mls, e.status)).sorted.toSeq ==
      Seq(("A", "new_listing"), ("B", "new_listing")))
    assert(r1.newState.count() == 2) // deduped
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").size == 2)
    assert(InMemoryGraphWriter.keysWithPrefix("Agent|").size == 1)

    val r2 = ScrapePipeline.runCycle(spark, new FixtureSource(c2), empty,
      Seq("84601"), r1.newState, now, Some(writer))
    val ev2 = r2.events.collect().map(e => (e.mls, e.status)).sorted.toSeq
    assert(ev2 == Seq(("A", "price_change"), ("B", "off_market")))
    assert(r2.newState.collect().map(_.mls).toSeq == Seq("A"))
  }

  test("EP2 branch: Trulia index→detail source unions into the same CDC") {
    import graft.sources.TruliaFixtureSource
    val index = Seq(("84601",
      """<a data-testid="property-card-link" href="/p/1">x</a>
         <a data-testid="property-card-link" href="/p/2">y</a>"""))
      .toDF("zip", "html")
    val details = Seq(
      ("https://www.trulia.com/p/1",
        """<span class="mls">T1</span><span class="price">$350,000</span>
           <span class="features">3 Beds • 2 Baths • 1500 sqft</span>"""),
      ("https://www.trulia.com/p/2", "<html>broken — no mls</html>"))
      .toDF("url", "html")
    val trulia = new TruliaFixtureSource(index, details)
    val ureEmpty = new FixtureSource(Seq.empty[(String, String)].toDF("zip", "html"))

    val r = ScrapePipeline.runCycle(spark, ureEmpty, trulia, Seq("84601"),
      spark.emptyDataset[Listing], 1700000000L)
    val evs = r.events.collect()
    assert(evs.map(e => (e.mls, e.status, e.source)).toSeq ==
      Seq(("T1", "new_listing", "TRULIA"))) // broken detail row dropped
    assert(r.newState.head().beds.contains(3L))
  }

  test("Trulia bypass mode: unconditional new_listing, no state, still sunk") {
    import graft.sources.TruliaFixtureSource
    val index = Seq(("84601",
      """<a data-testid="property-card-link" href="/p/1">x</a>"""))
      .toDF("zip", "html")
    val details = Seq(("https://www.trulia.com/p/1",
      """<span class="mls">T1</span><span class="price">$350,000</span>"""))
      .toDF("url", "html")
    val trulia = new TruliaFixtureSource(index, details)
    val ure = new FixtureSource(
      Seq(("84601", urePage("A", "$100,000"))).toDF("zip", "html"))

    InMemoryGraphWriter.clear()
    val writer = new InMemoryGraphWriter
    val r1 = ScrapePipeline.runCycle(spark, ure, trulia, Seq("84601"),
      spark.emptyDataset[Listing], 1700000000L, Some(writer),
      truliaBypassesState = true)
    assert(r1.events.collect().map(e => (e.mls, e.status, e.source)).sorted.toSeq ==
      Seq(("A", "new_listing", "URE"), ("T1", "new_listing", "TRULIA")))
    assert(r1.newState.collect().map(_.mls).toSeq == Seq("A"))
    assert(InMemoryGraphWriter.keysWithPrefix("Listing|").sorted ==
      Seq("Listing|A", "Listing|T1"))
    assert(InMemoryGraphWriter.store.get("Listing|T1")("source") == "TRULIA")

    // the same pages again: A is unchanged, T1 is new again because
    // it never entered the state
    val r2 = ScrapePipeline.runCycle(spark, ure, trulia, Seq("84601"),
      r1.newState, 1700003600L, Some(writer), truliaBypassesState = true)
    assert(r2.events.collect().map(e => (e.mls, e.status)).toSeq ==
      Seq(("T1", "new_listing")))
    assert(r2.newState.collect().map(_.mls).toSeq == Seq("A"))
  }

  test("salted aggregation matches plain aggregation") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val plain = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n"), sum($"n_chars").as("chars"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAgg(docs, Seq($"lang"), 16,
        Seq(count(lit(1)).as("n"), sum($"n_chars").as("chars")),
        Seq(sum($"n").as("n"), sum($"chars").as("chars")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == plain)
  }

  test("salted join matches plain join") {
    val li = Tables.lineitem(spark, sf("sf0.001")).limit(2000)
    val s = Tables.supplier(spark, sf("sf0.001"))
      .withColumnRenamed("s_suppkey", "l_suppkey")
    val plain = li.join(s, Seq("l_suppkey"))
      .groupBy($"s_name").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val salted = Skew.saltedJoin(li, s, "l_suppkey", 8)
      .groupBy($"s_name").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(salted == plain)
  }
}
