package graft

import graft.model.{Listing, ListingEvent}
import graft.operators.Cdc
import graft.sinks.{GraphSink, InMemoryGraphWriter}
import org.apache.spark.sql.Dataset

/** The one-pass writer core (one Listing projection + one deduplicated
  * contact frame) lands exactly the store that the six per-frame
  * builders land when each is written on its own. */
class GraphSinkEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val now = 1700000000L

  private def withContacts(mls: String, price: Long, agent: Option[String],
      agentPhone: Option[String], broker: Option[String],
      brokerPhone: Option[String]): Listing =
    Listing.minimal(mls, price).copy(agent_name = agent,
      agent_phone = agentPhone, broker_name = broker,
      broker_phone = brokerPhone, property_details = Map("beds" -> mls))

  private val cur = Seq(
    withContacts("M1", 90, Some("Jane Doe"), Some("1"), Some("Acme"), Some("9")),
    // duplicate (name, phone) pairs for the agent and the broker
    withContacts("M2", 200, Some("Jane Doe"), Some("1"), Some("Acme"), Some("9")),
    // blank agent name: no Agent node, but AGENT_OF/WORKS_FOR keep it
    withContacts("M3", 300, Some("   "), Some("5"), Some("Acme"), Some("9")),
    // null agent name with a phone; missing broker
    withContacts("M4", 400, None, Some("7"), None, None),
    // agent without phone, broker without phone
    withContacts("M5", 500, Some("Bob"), None, Some("Zed"), None),
    // no event: must not reach the sink
    withContacts("M6", 600, Some("Quiet"), Some("0"), Some("Hush"), Some("0")))

  private val prev = Seq(
    cur(0).copy(price = 100),           // price_change with a pct
    cur(2).copy(price = 0L),            // price_change from a 0 sentinel
    cur(5),                             // unchanged
    Listing.minimal("GONE", 1))         // off_market

  private def snapshot(): Map[String, Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    InMemoryGraphWriter.store.asScala.toMap
  }

  /** The parent's write path, one builder and one write per frame. */
  private def perFrame(listings: Dataset[Listing],
      events: Dataset[ListingEvent]): Map[String, Map[String, Any]] = {
    InMemoryGraphWriter.clear()
    val w = new InMemoryGraphWriter
    val evented = listings.join(events.select("mls"), Seq("mls"), "left_semi")
      .as[Listing]
    w.write(GraphSink.eventedListingNodes(evented, events, now),
      Map("labels" -> ":Listing", "node.keys" -> "mls"))
    w.write(GraphSink.agentNodes(evented),
      Map("labels" -> ":Agent", "node.keys" -> "name,phone"))
    w.write(GraphSink.brokerNodes(evented),
      Map("labels" -> ":Broker", "node.keys" -> "name,phone"))
    w.write(GraphSink.agentOfEdges(evented), Map("relationship" -> "AGENT_OF"))
    w.write(GraphSink.brokeredByEdges(evented),
      Map("relationship" -> "BROKERED_BY"))
    w.write(GraphSink.worksForEdges(evented), Map("relationship" -> "WORKS_FOR"))
    snapshot()
  }

  test("one-pass core == six per-frame writes, keys and values") {
    val listings = cur.toDS()
    val events = Cdc.batchEvents(prev.toDS(), listings, now)
    val expected = perFrame(listings, events)

    InMemoryGraphWriter.clear()
    GraphSink.writeGraph(listings, events, now, new InMemoryGraphWriter)
    assert(snapshot() == expected)

    // the cycle path: evented pairs straight from the CDC transitions
    InMemoryGraphWriter.clear()
    val pairs = Cdc.batchTransitions(prev.toDS(), listings, now)
      .filter($"_1".isNotNull && $"_2".isNotNull)
    GraphSink.writeEvented(pairs, now, new InMemoryGraphWriter)
    assert(snapshot() == expected)

    // the cases the input was built for
    val keys = expected.keySet
    assert(keys.filter(_.startsWith("Listing|")) ==
      Set("Listing|M1", "Listing|M2", "Listing|M3", "Listing|M4", "Listing|M5"))
    assert(keys.filter(_.startsWith("Agent|")) ==
      Set("Agent|Jane Doe|1", "Agent|Bob|null"))
    assert(keys.filter(_.startsWith("Broker|")) ==
      Set("Broker|Acme|9", "Broker|Zed|null"))
    assert(keys.contains("AGENT_OF|M3|   |5"))     // blank name, edge kept
    assert(!keys.exists(_.startsWith("AGENT_OF|M4")))  // null name, no edge
    assert(!keys.exists(_.startsWith("BROKERED_BY|M4"))) // no broker
    assert(keys.count(_.startsWith("WORKS_FOR|")) == 3)
    assert(expected("Listing|M1")("status") == "price_change")
    assert(expected("Listing|M3")("price_change_percentage") == 0.0)
    assert(expected("Listing|M2")("status") == "new_listing")
  }

  test("full-graph write == per-frame builders over all listings") {
    val listings = cur.toDS()
    InMemoryGraphWriter.clear()
    GraphSink.writeGraph(listings, new InMemoryGraphWriter)
    val onePass = snapshot()

    InMemoryGraphWriter.clear()
    val w = new InMemoryGraphWriter
    w.writeNodes(GraphSink.listingNodes(listings), "Listing", Seq("mls"))
    w.writeNodes(GraphSink.agentNodes(listings), "Agent", Seq("name", "phone"))
    w.writeNodes(GraphSink.brokerNodes(listings), "Broker", Seq("name", "phone"))
    w.writeEdges(GraphSink.agentOfEdges(listings), "AGENT_OF")
    w.writeEdges(GraphSink.brokeredByEdges(listings), "BROKERED_BY")
    w.writeEdges(GraphSink.worksForEdges(listings), "WORKS_FOR")
    assert(onePass == snapshot())
    assert(onePass.keySet.count(_.startsWith("Listing|")) == 6)
  }
}
