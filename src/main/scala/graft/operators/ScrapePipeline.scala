package graft.operators

import graft.model.{Listing, ListingEvent}
import graft.sinks.{GraphSink, GraphWriter}
import graft.sources.ListingSource
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** EP1/EP2 — the reference's main loop (SURVEY §3) as one composable
  * Spark DAG per cycle:
  *
  *   URE source (S1/S2) ∪ Trulia source (S4-S6, tagged TRULIA)
  *     → dropDuplicates(mls) (A4)
  *     → CDC transitions against previous state (J2/J3/T2),
  *       materialized once per cycle
  *     → events, new state and the graph sink's evented rows (K1),
  *       all projections of that one result
  *
  * The reference runs this serially per zip with per-row sink round
  * trips (main.py:109-138); here one cycle is one distributed plan:
  * sources parallelize per page partition, the union is free (no
  * shuffle), dedup + CDC shuffle once on mls, and the sink writes per
  * partition. Trulia rows join the same state machine instead of
  * bypassing it (trulia_scraper.py:140's unconditional new_listing —
  * reproduced only in `trulia_bypasses_state = true` mode for
  * fidelity).
  */
object ScrapePipeline {

  final case class CycleResult(
      events: Dataset[ListingEvent],
      newState: Dataset[Listing])

  /** Run one cycle. The scan, dedup and CDC join run exactly once:
    * their per-mls transitions are locally checkpointed (eagerly)
    * before anything reads them, and the sink, `events` and
    * `newState` all read that checkpoint.
    *
    * Checkpoint lifetime: the returned frames own the transitions
    * checkpoint. It stays readable for as long as either frame (or a
    * plan built on it, such as the next cycle's CDC) is reachable, and
    * Spark's ContextCleaner unpersists its blocks once they have all
    * been dropped and collected. A caller that keeps state across
    * cycles should checkpoint `newState` itself and drop the result,
    * so at most one cycle's transitions stay pinned.
    *
    * In bypass mode the Trulia rows skip the state machine: each one
    * is an unconditional new_listing event that reaches the sink but
    * not `newState`, and the Trulia source is read by each consumer. */
  def runCycle(
      spark: SparkSession,
      ure: ListingSource,
      trulia: ListingSource,
      zipCodes: Seq[String],
      prevState: Dataset[Listing],
      nowEpoch: Long,
      writer: Option[GraphWriter] = None,
      truliaBypassesState: Boolean = false): CycleResult = {
    import spark.implicits._

    val ureRows = ure.scan(spark, zipCodes)
    val truliaRows = trulia.scan(spark, zipCodes)
      .map(_.copy(source = "TRULIA"))

    val unioned =
      if (truliaBypassesState) ureRows else ureRows.union(truliaRows)
    // A4: dedup by key before the state probe. TRULIA wins a
    // cross-source conflict (it is scraped after URE in the reference
    // loop, main.py:117-127, so its row is the last write); the
    // remaining columns make the pick deterministic across retries
    // when a source emits the same mls twice.
    val batch = unioned
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"mls")
          .orderBy($"source", $"price", $"foundDate", $"url")))
      .filter($"rn" === 1).drop("rn")
      .as[Listing]

    val transitions = Cdc.batchTransitions(prevState, batch, nowEpoch)
      .localCheckpoint(eager = true)
    def events(t: Dataset[(Listing, ListingEvent)]) =
      t.filter($"_2".isNotNull).select($"_2.*").as[ListingEvent]
    val newState = transitions.filter($"_1".isNotNull).select($"_1.*").as[Listing]
    // K1: evented rows only, node props carry the event —
    // main.py:24-35 → database_ops.py:29-30 (MERGE = idempotent).
    val evented = transitions.filter($"_1".isNotNull && $"_2".isNotNull)

    // Trulia fidelity mode: unconditional new_listing, state untouched
    // (trulia_scraper.py:140 sends the rows to the sink regardless)
    val (sinkPairs, allEvents) =
      if (truliaBypassesState) {
        val truliaPairs = truliaRows.map(t => (t, ListingEvent(
          t.mls, "new_listing", None, t.price, None, None, None, t.source)))
        (evented.union(truliaPairs),
          events(transitions).union(events(truliaPairs)))
      } else (evented, events(transitions))

    writer.foreach(GraphSink.writeEvented(sinkPairs, nowEpoch, _))

    CycleResult(allEvents, newState)
  }
}
