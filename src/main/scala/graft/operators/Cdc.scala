package graft.operators

import graft.model.{Listing, ListingEvent}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful change-data-capture (SURVEY §2.9 T2, §2.4 J2/J3):
  * the reference's per-key dict probe (main.py:14-37) and off-market
  * sweep (hunter.py:336-354) as Spark operators.
  *
  * Two forms:
  *  - [[batchTransitions]]: previous ⟗ current full-outer join — used
  *    for batch reconciliation; [[batchEvents]] is its event column,
  *    used for oracle testing.
  *  - [[streamingEvents]]: flatMapGroupsWithState keyed by mls —
  *    state is the last-seen Listing; transitions emit typed events.
  *    Off-market detection uses processing-time timeout (the
  *    streaming analog of "state key absent from this cycle").
  *
  * Scale: both shuffle once on mls (hash partition); state store is
  * per-key and incremental — no per-cycle full-state rewrite like the
  * reference's SavedListings.json dump (main.py:144-171).
  */
object Cdc {

  /** Event derivation shared by both forms, matching
    * check_price_change_percentage (main.py:39-52). */
  private def priceChange(newL: Listing, old: Listing): ListingEvent = {
    // E7 discipline: a state row whose price failed to parse carries the
    // 0 sentinel — guard the divide instead of emitting Infinity/NaN.
    val pct =
      if (old.price == 0L) None
      else Some((newL.price - old.price).toDouble / old.price * 100)
    val pctTxt = pct.map(p => f" ($p%.2f%%)").getOrElse("")
    ListingEvent(newL.mls, "price_change",
      Some(s"Price changed from ${old.price} to ${newL.price}$pctTxt"),
      newL.price, Some(old.price), pct, None, newL.source)
  }

  /** The batch CDC with the listing kept next to its event: one row
    * per mls of prev ∪ cur, holding the current listing (null when it
    * went off market) and the event it raised (null when unchanged).
    * A caller that materializes this once can project the events, the
    * next state and the sink's evented rows from the one result. */
  def batchTransitions(prev: Dataset[Listing], cur: Dataset[Listing],
      nowEpoch: Long): Dataset[(Listing, ListingEvent)] = {
    val spark = prev.sparkSession
    import spark.implicits._
    prev.as("p").joinWith(cur.as("c"), $"p.mls" === $"c.mls", "full_outer")
      .map { case (old, newL) =>
        val event = (Option(old), Option(newL)) match {
          case (None, Some(n)) =>
            ListingEvent(n.mls, "new_listing", None, n.price, None,
              None, None, n.source)
          case (Some(o), Some(n)) if n.price != o.price =>
            priceChange(n, o)
          case (Some(o), None) =>
            val days = ((nowEpoch - o.foundDate) / 86400).toInt
            ListingEvent(o.mls, "off_market", None, o.price, None,
              None, Some(days), o.source)
          case _ => null // unchanged → no-op (T5)
        }
        (newL, event)
      }
  }

  def batchEvents(prev: Dataset[Listing], cur: Dataset[Listing],
      nowEpoch: Long): Dataset[ListingEvent] = {
    val spark = prev.sparkSession
    import spark.implicits._
    batchTransitions(prev, cur, nowEpoch).flatMap(t => Option(t._2))
  }

  /** Streaming CDC. Emits new_listing/price_change on updates and
    * off_market when a key times out (no sighting within
    * `offMarketTimeoutMs` of processing time).
    *
    * `initialState` is the restart path (S11/T3): the reference
    * bootstraps its dict from SavedListings.json before polling
    * (main.py:98) so a price change across a restart is a
    * price_change, not a new_listing. Pass `CsvSinks.readState(...)`
    * here to reproduce that continuity — the snapshot seeds the state
    * store on the FIRST batch, then the checkpoint owns it. */
  def streamingEvents(stream: Dataset[Listing], offMarketTimeoutMs: Long,
      nowEpoch: () => Long = () => System.currentTimeMillis() / 1000,
      initialState: Option[Dataset[Listing]] = None)
      : Dataset[ListingEvent] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val fn = (mls: String, rows: Iterator[Listing], state: GroupState[Listing]) =>
      if (state.hasTimedOut) {
        val old = state.get
        state.remove()
        val days = ((nowEpoch() - old.foundDate) / 86400).toInt
        Iterator.single(ListingEvent(old.mls, "off_market", None,
          old.price, None, None, Some(days), old.source))
      } else {
        // last-write-wins within a batch, keyed ordering not
        // guaranteed — reference semantics are last-seen (T5)
        val events = rows.flatMap { n =>
          val out = state.getOption match {
            case None =>
              Some(ListingEvent(n.mls, "new_listing", None, n.price,
                None, None, None, n.source))
            case Some(o) if n.price != o.price => Some(priceChange(n, o))
            case _ => None
          }
          state.update(n)
          out
        }.toVector
        state.setTimeoutDuration(offMarketTimeoutMs)
        events.iterator
      }
    val grouped = stream.groupByKey(_.mls)
    initialState match {
      case Some(init) =>
        grouped.flatMapGroupsWithState[Listing, ListingEvent](
          OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout,
          init.groupByKey(_.mls))(fn)
      case None =>
        grouped.flatMapGroupsWithState[Listing, ListingEvent](
          OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(fn)
    }
  }

  /** A listing observation with its EVENT time — the input shape of
    * [[streamingEventsEventTime]]. `ts` is when the listing was seen
    * on the source (scrape time in the reference's world), not when
    * the row reached the engine. */
  final case class Sighting(ts: java.sql.Timestamp, listing: Listing)

  /** Per-key state for the event-time CDC: last-seen listing and the
    * event-time MILLISECOND of that sighting. Millisecond (not
    * second) granularity so a genuine price change arriving <1s after
    * the applied sighting — same floor-second, later ms — is applied,
    * not silently dropped (ADVICE r10). Off-market timing still
    * quantizes to the floor second (the documented day math), so this
    * widens what is APPLIED without moving any emitted timestamp.
    *
    * `stateVer` exists for exactly one reason: Spark's state-store
    * schema check compares TYPES ignoring field names, so when
    * lastSeenSec became lastSeenMs (same Long slot) a restart from a
    * checkpoint written by the seconds-granularity build would have
    * LOADED seconds and read them as milliseconds — floorDiv(ms,1000)
    * collapses to ~1970, the timeout clamps to watermark+1, and the
    * operator silently emits spurious off_market events with absurd
    * day counts (ADVICE r11). The extra INT field changes the state
    * schema's SHAPE, which the checker does compare — so restarting
    * over an old checkpoint now fails fast with
    * StateSchemaNotCompatible (spec-pinned) instead of corrupting
    * timers. Bump [[Cdc.StateVer]] on any future reinterpretation of
    * an existing slot; same-shape reinterpretations must also change
    * the field count or a field type, or the checker cannot see them. */
  final case class SeenState(listing: Listing, lastSeenMs: Long,
      stateVer: Int)

  /** Event-time CDC state schema version — v2 = millisecond
    * `lastSeenMs` (v1, implicit: two fields, second granularity). */
  val StateVer: Int = 2

  /** EVENT-TIME CDC — the replayable twin of [[streamingEvents]].
    *
    * The processing-time form times a key out `offMarketTimeoutMs` of
    * WALL CLOCK after its last sighting, so replaying a historical
    * log emits off_market at whatever speed the replay runs —
    * nondeterministic evidence. This form keys everything to the
    * data: a listing goes off_market when the WATERMARK passes
    * lastSeen + `stalenessSec` (`GroupStateTimeout.EventTimeTimeout`
    * + `setTimeoutTimestamp`, the StreamingGapFill timer pattern), and
    * days-on-market is computed from event time
    * ((lastSeen + staleness − foundDate) / 86400), so the SAME input
    * log produces the SAME events — including expiry timing — no
    * matter when or how fast it is replayed (spec-pinned, including a
    * kill/restart across the expiry).
    *
    * Within a micro-batch, a key's sightings are processed in
    * (ts, price) order — arrival order inside a batch is not part of
    * the contract, replay determinism is. Rows later than the
    * watermark are dropped by the standard watermark contract.
    *
    * Scale shape: identical to the processing-time form — one hash
    * shuffle on mls, per-key state is one listing + one long; the
    * timer adds nothing per row. */
  def streamingEventsEventTime(sightings: Dataset[Sighting],
      stalenessSec: Long, watermarkDelay: String = "0 seconds")
      : Dataset[ListingEvent] = {
    val spark = sightings.sparkSession
    import spark.implicits._
    sightings.withWatermark("ts", watermarkDelay)
      .groupByKey(_.listing.mls)
      .flatMapGroupsWithState[SeenState, ListingEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state: GroupState[SeenState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            // schema-compatible state from a different interpretation
            // epoch must never be read silently (see SeenState scaladoc)
            require(st.stateVer == StateVer,
              s"event-time CDC state version ${st.stateVer} != $StateVer")
            state.remove()
            val offSec = Math.floorDiv(st.lastSeenMs, 1000L) + stalenessSec
            val days = ((offSec - st.listing.foundDate) / 86400).toInt
            Iterator.single(ListingEvent(st.listing.mls, "off_market",
              None, st.listing.price, None, None, Some(days),
              st.listing.source))
          } else {
            val sorted = rows.toVector
              .sortBy(s => (s.ts.getTime, s.listing.price))
            var st = state.getOption
            st.foreach(v => require(v.stateVer == StateVer,
              s"event-time CDC state version ${v.stateVer} != $StateVer"))
            val out = Vector.newBuilder[ListingEvent]
            sorted.foreach { s =>
              val n = s.listing
              val ms = s.ts.getTime
              // State only ever ADVANCES in event time: a sighting at
              // or before the last-applied MILLISECOND is stale — a
              // late cross-batch arrival under watermarkDelay > 0, or
              // a committed-offset replay after restart — and applying
              // it would regress the state's listing to an older
              // snapshot while lastSeenMs kept the max (inverted
              // price_change events, wrong off_market snapshot;
              // ADVICE r9). Dropping it is also what makes the output
              // independent of HOW the log was batched: any split of
              // the same sightings yields the same applied
              // subsequence. Millisecond granularity (ADVICE r10)
              // means a real change <1s after the applied sighting is
              // applied, matching the per-sighting batch twin.
              // (Equal-ms duplicates within one batch collapse to the
              // first in (ts, price) order — the deterministic tie.)
              if (st.forall(_.lastSeenMs < ms)) {
                st match {
                  case None =>
                    out += ListingEvent(n.mls, "new_listing", None, n.price,
                      None, None, None, n.source)
                  case Some(o) if n.price != o.listing.price =>
                    out += priceChange(n, o.listing)
                  case _ => () // unchanged → no-op (T5)
                }
                st = Some(SeenState(n, ms, StateVer))
              }
            }
            st.foreach { v =>
              state.update(v)
              // wake when the watermark passes staleness past the last
              // sighting; clamp above the current watermark (Spark
              // rejects a timeout already in the past)
              state.setTimeoutTimestamp(
                math.max((Math.floorDiv(v.lastSeenMs, 1000L) +
                    stalenessSec) * 1000L,
                  state.getCurrentWatermarkMs() + 1L))
            }
            out.result().iterator
          }
      }
  }

  /** Convenience: replay a deterministic sequence of micro-batches
    * through the batch CDC, threading state like the reference's
    * poll loop (main.py:109-138). Returns (events per cycle, final
    * state) as LAZY Datasets — callers choose when/whether to
    * materialize, so an unbounded event cycle never lands on the
    * driver. Driver-side loop over CYCLES (a handful), not rows. */
  def replay(spark: SparkSession, cycles: Seq[Seq[Listing]], nowEpoch: Long)
      : (Seq[Dataset[ListingEvent]], Dataset[Listing]) = {
    import spark.implicits._
    var state = spark.emptyDataset[Listing]
    val out = cycles.map { batch =>
      val cur = batch.toDS()
      val events = batchEvents(state, cur, nowEpoch)
      // state transition: survivors replaced, newcomers added,
      // missing keys dropped (off_market removes state, hunter.py:352)
      state = cur
      events
    }
    (out, state)
  }
}
