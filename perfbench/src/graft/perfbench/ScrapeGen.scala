package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One live listing in the generator's world. */
final case class GenListing(mls: String, zip: String, price: Long, sqft: Long,
    street: String, agent: Int)

/** What one cycle did to the live set: the events the CDC must emit. */
final case class Transition(newMls: Set[String], changedMls: Set[String],
    droppedMls: Set[String])

/** Seeded market for the scrape loop. It renders URE quickview pages
  * for a fixed set of zip codes and moves the market between cycles:
  * cycle 0 lists `initial` homes; every later cycle re-prices 10% of
  * the live listings, takes 5% off the market and lists 5% new ones.
  * The same seed yields the same pages and the same transitions, and
  * the generator knows every transition, so the pipeline's events and
  * the graph it writes can be checked exactly.
  */
final class ScrapeGen(seed: Long, initial: Int) {
  import ScrapeGen._

  val zips: Vector[String] = (0 until ZipCount).map(i => f"${84001 + i}%05d").toVector
  private val agents = math.max(50, initial / 8)

  private val live = mutable.TreeMap.empty[String, GenListing]
  private var nextMls = 1000000L
  private var cycles = 0

  // every listing ever listed: each is evented (new_listing) once,
  // so these sets are what the graph sink must hold
  private var everListed = 0L
  private val everAgents = mutable.HashSet.empty[Int]

  def liveCount: Int = live.size
  def cycle: Int = cycles

  def agentName(a: Int): String = s"${First(a % First.size)} ${Last((a / First.size) % Last.size)} $a"
  def agentPhone(a: Int): String = f"801-${200 + a / 10000}%03d-${a % 10000}%04d"
  def broker(a: Int): Int = a % Brokers
  def brokerName(b: Int): String = s"${Last(b % Last.size)} Realty Group $b"
  def brokerPhone(b: Int): String = f"385-555-${b}%04d"

  private def rng(k: Int) = new SplittableRandom(seed * 1000003L + k)

  private def create(r: SplittableRandom): GenListing = {
    val mls = nextMls.toString
    nextMls += 1 + r.nextInt(3)
    val zip = zips(r.nextInt(zips.size))
    val agent = r.nextInt(agents)
    everListed += 1
    everAgents += agent
    GenListing(mls, zip, price = 150000L + 100L * r.nextInt(9000),
      sqft = 800L + r.nextInt(3200),
      street = s"${100 + r.nextInt(9800)} ${Streets(r.nextInt(Streets.size))}",
      agent = agent)
  }

  /** Move the market one cycle and return what changed. */
  def advance(): Transition = {
    val r = rng(cycles)
    val t =
      if (cycles == 0) {
        val fresh = Seq.fill(initial)(create(r))
        fresh.foreach(l => live(l.mls) = l)
        Transition(fresh.map(_.mls).toSet, Set.empty, Set.empty)
      } else {
        val keys = live.keysIterator.toArray
        // Fisher-Yates over the sorted keys: the first 5% leave the
        // market, the next 10% change price
        var i = keys.length - 1
        while (i > 0) {
          val j = r.nextInt(i + 1)
          val tmp = keys(i); keys(i) = keys(j); keys(j) = tmp
          i -= 1
        }
        val nDrop = math.round(keys.length * 0.05).toInt
        val nChange = math.round(keys.length * 0.10).toInt
        val dropped = keys.take(nDrop).toSet
        val changed = keys.slice(nDrop, nDrop + nChange).toSet
        dropped.foreach(live.remove)
        changed.toSeq.sorted.foreach { m =>
          val l = live(m)
          val pct = (1 + r.nextInt(15)) * (if (r.nextBoolean()) 1 else -1)
          live(m) = l.copy(price = math.max(1000L, (l.price * (100 + pct) / 100) / 100 * 100))
        }
        val fresh = Seq.fill(nDrop)(create(r))
        fresh.foreach(l => live(l.mls) = l)
        Transition(fresh.map(_.mls).toSet, changed, dropped)
      }
    cycles += 1
    t
  }

  /** The quickview block the URE parser reads (one listing). */
  def block(l: GenListing): String = {
    val b = broker(l.agent)
    val beds = 2 + (l.sqft / 700)
    s"""<table class="public-detail-quickview"><tr><td>
       |<span class="mls">${l.mls}</span>
       |<span class="price">$$${grouped(l.price)}</span>
       |<span class="address">${l.street}, ${cityOf(l.zip)}, UT ${l.zip}</span>
       |<span class="stats">$beds Beds | 2 Baths | ${grouped(l.sqft)} Sq.Ft.</span>
       |<span class="sqft">${l.sqft}</span>
       |<span class="agent-name">${agentName(l.agent)}</span>
       |<span class="agent-phone">${agentPhone(l.agent)}</span>
       |<span class="broker-name">${brokerName(b)}</span>
       |<span class="broker-phone">${brokerPhone(b)}</span>
       |</td></tr></table>""".stripMargin
  }

  /** The current market as fetched pages: (zip, html) rows, at most
    * [[PageSize]] listings per page, zips and listings in key order. */
  def pages: Seq[(String, String)] =
    live.values.toSeq.groupBy(_.zip).toSeq.sortBy(_._1).flatMap { case (zip, ls) =>
      ls.sortBy(_.mls).grouped(PageSize).map(p =>
        zip -> p.map(block).mkString(
          s"""<html><body><div class="search-results" data-zip="$zip">""",
          "\n", "</div></body></html>"))
    }

  /** Graph keys the sink must hold after this cycle, per key prefix. */
  def expectedKeys: Map[String, Long] = Map(
    "Listing|" -> everListed,
    "Agent|" -> everAgents.size.toLong,
    "Broker|" -> everAgents.map(broker).size.toLong,
    "AGENT_OF|" -> everListed,
    "BROKERED_BY|" -> everListed,
    // an agent always works for the same broker
    "WORKS_FOR|" -> everAgents.size.toLong)

  private def grouped(n: Long): String = String.format(java.util.Locale.ROOT, "%,d", Long.box(n))

  private def cityOf(zip: String): String = Cities(zip.toInt % Cities.size)
}

object ScrapeGen {
  /** The reference's zip list has 353 Utah zip codes. */
  val ZipCount = 353
  val PageSize = 20
  val Brokers = 40
  private val First = Vector("Anna", "Ben", "Cora", "Dale", "Eva", "Finn",
    "Gina", "Hal", "Ivy", "Jon", "Kate", "Liam")
  private val Last = Vector("Young", "Smith", "Larsen", "Jensen", "Peterson",
    "Christensen", "Nielsen", "Anderson", "Olsen", "Hansen")
  private val Streets = Vector("N Main St", "E Center St", "W 400 S",
    "S State St", "Canyon Rd", "Maple Ave", "Juniper Dr", "Sage Ln")
  private val Cities = Vector("Provo", "Orem", "Lehi", "Ogden", "Logan",
    "Sandy", "Draper", "Murray", "Layton", "St George", "Heber", "Moab")
}
