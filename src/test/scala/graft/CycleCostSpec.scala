package graft

import graft.model.Listing
import graft.operators.ScrapePipeline
import graft.sinks.InMemoryGraphWriter
import graft.sources.FixtureSource
import graft.tools.Checkpoints
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Dataset
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** What one steady scrape cycle costs in Spark jobs, and how long its
  * transitions checkpoint lives. A cycle is what a long-running caller
  * does per poll: `runCycle` with a graph writer, collect the events,
  * checkpoint the new state for the next cycle. */
class CycleCostSpec extends SparkSpec {
  import spark.implicits._

  private val now = 1700000000L
  private val zips = (0 until 40).map(z => f"84$z%03d")

  private def block(i: Int, price: Long): String =
    s"""<table class="public-detail-quickview">
       |<span class="mls">M$i</span><span class="price">$$$price</span>
       |<span class="agent-name">Agent ${i % 23}</span>
       |<span class="agent-phone">555-${i % 23}</span>
       |<span class="broker-name">Broker ${i % 7}</span>
       |<span class="broker-phone">555-9${i % 7}</span>
       |</table>""".stripMargin

  /** Market in cycle `k`: listings 10k until 10k + 200 are live, so
    * each cycle 10 leave and 10 arrive, and about a fifth of the rest
    * change price. */
  private def market(k: Int): Map[Int, Long] =
    (10 * k until 200 + 10 * k).map { i =>
      i -> (100000L + i + (if ((i + k) % 10 == 0) 1000L * k else 0L))
    }.toMap

  private def source(k: Int): FixtureSource = {
    val pages = market(k).toSeq.groupBy { case (i, _) => zips(i % zips.size) }
      .map { case (zip, ls) => (zip, ls.map { case (i, p) => block(i, p) }.mkString) }
      .toSeq
    new FixtureSource(spark.sparkContext.parallelize(pages, 8).toDF("zip", "html"))
  }

  private val noTrulia =
    new FixtureSource(Seq.empty[(String, String)].toDF("zip", "html"))

  /** One cycle from `state`; returns the new state's own checkpoint. */
  private def cycle(k: Int, state: Dataset[Listing]): Dataset[Listing] = {
    val res = ScrapePipeline.runCycle(spark, source(k), noTrulia, zips, state,
      now + 3600L * k, Some(new InMemoryGraphWriter))
    res.events.collect()
    res.newState.localCheckpoint(eager = true)
  }

  private final class JobCounter(group: String) extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) {
        jobs += 1
        stages += e.stageInfos.size
      }
  }

  test("a steady cycle stays within its measured job count") {
    InMemoryGraphWriter.clear()
    var state = spark.emptyDataset[Listing]
    for (k <- 0 to 1) state = cycle(k, state) // set-up + one warm cycle
    val sc = spark.sparkContext
    val counter = new JobCounter("cycle-cost")
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup("cycle-cost", "one steady scrape cycle")
      try state = cycle(2, state)
      finally sc.clearJobGroup()
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(counter)
    info(s"steady cycle: ${counter.jobs} jobs, ${counter.stages} stages")
    // Measured on Spark 4.1, local[4]: 14 jobs / 24 stages. A cycle
    // whose consumers each re-run the source-to-CDC lineage makes
    // 26 / 56; the slack absorbs an AQE re-plan, not that.
    assert(counter.jobs <= 16, s"${counter.jobs} jobs")
    assert(counter.stages <= 28, s"${counter.stages} stages")
    InMemoryGraphWriter.clear()
  }

  test("dropped cycle results release their transitions checkpoint") {
    InMemoryGraphWriter.clear()
    val sc = spark.sparkContext
    val firstRdd = sc.emptyRDD[Int].id
    def live = sc.getPersistentRDDs.keys.count(_ > firstRdd)
    var state = spark.emptyDataset[Listing]
    for (k <- 0 until 6) {
      val next = cycle(k, state)
      Checkpoints.release(state.toDF())
      state = next
    }
    // each cycle left one transitions checkpoint behind; only the
    // state's own checkpoint is still referenced
    eventually(timeout(60.seconds), interval(500.millis)) {
      System.gc()
      assert(live <= 2, s"$live persistent RDDs survive 6 cycles")
    }
    Checkpoints.release(state.toDF())
    InMemoryGraphWriter.clear()
  }
}
