package graft.sinks

import graft.model.{Listing, ListingEvent}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** K1 — the property-graph sink (SURVEY §2.2), re-expressed as
  * relational derivations: the reference's 6 per-row Cypher MERGEs
  * (/root/reference/database_ops.py:14-90) become one Listing node
  * frame plus the Agent/Broker nodes and the AGENT_OF/BROKERED_BY/
  * WORKS_FOR edges, all projected from one listing frame and written
  * per-partition through a pluggable [[GraphWriter]].
  *
  * Scale: the five contact frames come from one tagged frame
  * (kind, a, b, c, d), deduplicated in ONE shuffle and cached for
  * their five writes; the Listing frame is a plain projection. The
  * writer batches one round-trip per partition (vs the reference's 6
  * round-trips per ROW) and MERGE-by-key keeps the sink idempotent,
  * closing the reference's lost-write hole (T4) under at-least-once
  * retry. Every public frame builder is a projection of the same
  * rules, so each filter and dedup rule is written once.
  */
object GraphSink {

  private val agent = col("agent_name")
  private val broker = col("broker_name")

  /** Contact kinds in write order: the frame's column names for the
    * tagged columns a..d, and the connector options of its write. */
  private val contactKinds: Seq[(String, Seq[String], Map[String, String])] = Seq(
    ("Agent", Seq("name", "phone"),
      Map("labels" -> ":Agent", "node.keys" -> "name,phone")),
    ("Broker", Seq("name", "phone"),
      Map("labels" -> ":Broker", "node.keys" -> "name,phone")),
    ("AGENT_OF", Seq("src_name", "src_phone", "dst_mls"),
      Map("relationship" -> "AGENT_OF")),
    ("BROKERED_BY", Seq("src_mls", "dst_name", "dst_phone"),
      Map("relationship" -> "BROKERED_BY")),
    ("WORKS_FOR", Seq("src_name", "src_phone", "dst_name", "dst_phone"),
      Map("relationship" -> "WORKS_FOR")))

  /** Every contact node and edge of `listings` as one deduplicated
    * tagged frame (kind, a, b, c, d). Agent/Broker nodes need a
    * non-blank name (database_ops.py:61-70); an edge needs only non-null
    * endpoint names (database_ops.py:73-90). */
  private def contacts(listings: DataFrame): DataFrame = {
    val none = lit(null).cast("string")
    def named(c: Column) = c.isNotNull && length(trim(c)) > 0
    def tag(kind: String, keep: Column, cols: Column*) = {
      val abcd = cols ++ Seq.fill(4 - cols.size)(none)
      when(keep, struct(lit(kind).as("kind") +: abcd.zip(Seq("a", "b", "c", "d"))
        .map { case (c, n) => c.as(n) }: _*))
    }
    listings.select(explode(array(
        tag("Agent", named(agent), agent, col("agent_phone")),
        tag("Broker", named(broker), broker, col("broker_phone")),
        tag("AGENT_OF", agent.isNotNull, agent, col("agent_phone"), col("mls")),
        tag("BROKERED_BY", broker.isNotNull, col("mls"), broker,
          col("broker_phone")),
        tag("WORKS_FOR", agent.isNotNull && broker.isNotNull, agent,
          col("agent_phone"), broker, col("broker_phone")))).as("t"))
      .filter(col("t").isNotNull)
      .select("t.*")
      .distinct()
  }

  /** One kind's rows of a [[contacts]] frame, under its own columns. */
  private def ofKind(tagged: DataFrame, kind: String): DataFrame = {
    val names = contactKinds.collectFirst { case (`kind`, n, _) => n }.get
    tagged.filter(col("kind") === kind)
      .select(Seq("a", "b", "c", "d").zip(names).map { case (t, n) =>
        col(t).as(n) }: _*)
  }

  /** The node's listing fields, with the details map as JSON (E13). */
  private def withDetailsJson(df: DataFrame): DataFrame =
    df.withColumn("property_details_json", to_json(col("property_details")))
      .drop("property_details")

  /** Evented pairs: each listing next to each event of its mls. */
  private def evented(listings: Dataset[Listing],
      events: Dataset[ListingEvent]): Dataset[(Listing, ListingEvent)] =
    listings.as("l").joinWith(events.as("e"), col("l.mls") === col("e.mls"))

  /** Listing node frame of evented pairs, one row per pair: the
    * listing plus the event's `status` + `additionalText`, and the
    * price-change props check_price_change_percentage (main.py:39-52)
    * stamps at event time. */
  private def eventedNodes(pairs: Dataset[(Listing, ListingEvent)],
      nowEpoch: Long): DataFrame = {
    val changed = col("status") === "price_change"
    withDetailsJson(pairs.select(col("_1.*"), col("_2.status"),
        col("_2.additionalText"), col("_2.priceChangePct"))
      .withColumn("price_change_date",
        when(changed, from_unixtime(lit(nowEpoch), "yyyy-MM-dd HH:mm:ss"))
          .otherwise(col("price_change_date")))
      .withColumn("price_change_percentage",
        when(changed, coalesce(col("priceChangePct"), lit(0.0)))
          .otherwise(col("price_change_percentage")))
      .drop("priceChangePct"))
  }

  /** Node frame: listings keyed by mls, labeled by source (the
    * reference's dynamic node label, database_ops.py:15). */
  def listingNodes(listings: Dataset[Listing]): DataFrame =
    withDetailsJson(listings.toDF().dropDuplicates("mls"))

  /** Event-enriched node frame — the reference's actual write path:
    * process_listing (main.py:24-35) sends ONLY evented listings
    * (new_listing / price_change), and send_to_neo4j SETs the event's
    * `status` + `additionalText` on the node (database_ops.py:29-30)
    * along with `price_change_date`/`price_change_percentage`, which
    * check_price_change_percentage (main.py:39-52) stamps on the
    * listing at event time. Off-market events have no row in the
    * current batch, so the inner join drops them — exactly the
    * reference, whose off-market hunter is disabled (main.py:9). */
  def eventedListingNodes(listings: Dataset[Listing],
      events: Dataset[ListingEvent], nowEpoch: Long): DataFrame =
    eventedNodes(evented(listings.dropDuplicates("mls"), events), nowEpoch)

  /** :Agent nodes keyed by (name, phone) (database_ops.py:61-64). */
  def agentNodes(listings: Dataset[Listing]): DataFrame =
    ofKind(contacts(listings.toDF()), "Agent")

  /** :Broker nodes keyed by (name, phone) (database_ops.py:67-70). */
  def brokerNodes(listings: Dataset[Listing]): DataFrame =
    ofKind(contacts(listings.toDF()), "Broker")

  /** Edge frames carry business keys; the writer resolves endpoints
    * (database_ops.py:73-90). */
  def agentOfEdges(listings: Dataset[Listing]): DataFrame =
    ofKind(contacts(listings.toDF()), "AGENT_OF")

  def brokeredByEdges(listings: Dataset[Listing]): DataFrame =
    ofKind(contacts(listings.toDF()), "BROKERED_BY")

  def worksForEdges(listings: Dataset[Listing]): DataFrame =
    ofKind(contacts(listings.toDF()), "WORKS_FOR")

  /** The writer core: the Listing node frame, then the five contact
    * frames from one cached dedup of `contactSource`. */
  private def writeFrames(listingFrame: DataFrame, contactSource: DataFrame,
      writer: GraphWriter): Unit = {
    writer.write(listingFrame, Map("labels" -> ":Listing", "node.keys" -> "mls"))
    val tagged = contacts(contactSource).cache()
    try contactKinds.foreach { case (kind, _, options) =>
      writer.write(ofKind(tagged, kind), options)
    } finally tagged.unpersist()
  }

  /** Write the whole graph: 3 node frames + 3 edge frames. */
  def writeGraph(listings: Dataset[Listing], writer: GraphWriter): Unit =
    writeFrames(listingNodes(listings), listings.toDF(), writer)

  /** Reference-faithful cycle write (K1): only evented listings reach
    * the sink, and listing nodes carry the event props — the dataflow
    * of main.py:24-35 → database_ops.py:14-58. Agent/Broker nodes and
    * all edges likewise derive from the evented subset only, since the
    * reference MERGEs them inside the same send_to_neo4j call. A
    * listing mls that occurs more than once writes one Listing node
    * per occurrence; MERGE by key keeps one of them. */
  def writeGraph(listings: Dataset[Listing], events: Dataset[ListingEvent],
      nowEpoch: Long, writer: GraphWriter): Unit =
    writeEvented(evented(listings, events), nowEpoch, writer)

  /** [[writeGraph]] over pairs that are already evented, as
    * [[graft.operators.Cdc.batchTransitions]] yields them: each pair
    * is one Listing node, so a caller whose pairs are unique by mls
    * (one CDC cycle) pays no dedup for the Listing frame. */
  def writeEvented(pairs: Dataset[(Listing, ListingEvent)], nowEpoch: Long,
      writer: GraphWriter): Unit =
    writeFrames(eventedNodes(pairs, nowEpoch), pairs.select("_1.*"), writer)
}

/** Pluggable graph writer. The production impl would batch MERGE
  * statements per partition over a pooled Bolt connection; tests use
  * [[InMemoryGraphWriter]].
  *
  * [[write]] is the connector-shaped surface (SURVEY §7.2 M3): an
  * options map mirroring the public Neo4j Spark connector's
  * `labels` / `node.keys` / `relationship` option names, so swapping
  * the in-memory writer for a real connector is a config change, not
  * a code change. */
trait GraphWriter extends Serializable {
  def writeNodes(nodes: DataFrame, label: String, keys: Seq[String]): Unit
  def writeEdges(edges: DataFrame, relType: String): Unit

  /** Connector option surface: either `labels` (":Label") +
    * `node.keys` ("k1,k2") for a node write, or `relationship`
    * ("REL_TYPE") for an edge write. */
  def write(df: DataFrame, options: Map[String, String]): Unit =
    options.get("relationship") match {
      case Some(rel) => writeEdges(df, rel)
      case None =>
        val label = options.getOrElse("labels",
          throw new IllegalArgumentException(
            "GraphWriter.write needs 'labels' or 'relationship'"))
          .stripPrefix(":")
        val keys = options.getOrElse("node.keys",
          throw new IllegalArgumentException(
            "node write needs 'node.keys'"))
          .split(",").map(_.trim).toSeq
        writeNodes(df, label, keys)
    }
}

/** Test/local writer: collects per-partition batches into a static
  * store (valid in local mode where executors share the JVM); MERGE
  * semantics = last-write-wins by key, exercised by the specs. */
class InMemoryGraphWriter extends GraphWriter {
  import InMemoryGraphWriter._

  def writeNodes(nodes: DataFrame, label: String, keys: Seq[String]): Unit = {
    val cols = nodes.columns
    nodes.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val all = cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        val key = label + "|" + keys.map(k => String.valueOf(all(k))).mkString("|")
        store.put(key, all) // MERGE: upsert by business key
      }
    }
  }

  def writeEdges(edges: DataFrame, relType: String): Unit = {
    val cols = edges.columns
    edges.foreachPartition { rows: Iterator[Row] =>
      rows.foreach { r =>
        val all = cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap
        val key = relType + "|" + cols.sorted.map(c => String.valueOf(all(c))).mkString("|")
        store.put(key, all)
      }
    }
  }
}

object InMemoryGraphWriter {
  val store = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()
  def clear(): Unit = store.clear()
  def keysWithPrefix(p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    store.keySet().asScala.filter(_.startsWith(p)).toSeq
  }
}
