package graft.sources

import java.time.{Duration, LocalDateTime, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType
import graft.operators.Snapshot

/** The reference's windowed-ingest protocol (S1/S4–S6), minus the HTTP
  * transport the sandbox cannot exercise:
  *
  *  - `dateWindows` — chunk [start, end) into fixed-frequency query
  *    windows, with a partial tail window when the span does not divide
  *    evenly (gen_qdates, consumo_detalle.py:44-78);
  *  - `withRetries` — bounded re-attempts per window, raising only
  *    after exhaustion (download_data, consumo_detalle.py:108-143);
  *  - `windowedIngest` — per window: fetch → rows-as-DataFrame → sink,
  *    landing each chunk before the next is fetched exactly like the
  *    reference's per-period upload_bq loop (consumo_detalle.py:364-381)
  *    — a mid-run failure keeps every previously landed chunk, which is
  *    what makes the K2 replace-window re-ingest the recovery story.
  *
  * The transport is a plain function so production supplies an HTTP
  * client and tests supply fakes; everything around it — the chunking,
  * the retry budget, the append cadence — is the real engine surface.
  */
object Fetch {

  /** Chunk [start, endExclusive) into [from, to) windows of `step`;
    * the last window is clamped to endExclusive (the reference appends
    * the partial tail manually). Driver-side and tiny: windows are
    * hours-per-backfill, never data-sized.
    */
  def dateWindows(start: LocalDateTime, endExclusive: LocalDateTime,
                  step: Duration): Seq[(LocalDateTime, LocalDateTime)] = {
    require(!step.isNegative && !step.isZero, "step must be positive")
    val out = Seq.newBuilder[(LocalDateTime, LocalDateTime)]
    var cur = start
    while (cur.isBefore(endExclusive)) {
      val next = cur.plus(step)
      out += ((cur, if (next.isBefore(endExclusive)) next else endExclusive))
      cur = next
    }
    out.result()
  }

  /** Run `attempt` up to `attempts` times (1-based attempt index);
    * rethrows the last failure once the budget is spent — the
    * reference's while-loop with the terminal "intentos superados".
    * Only NonFatal failures consume the budget: OOM/interrupts and
    * Scala control-flow throwables propagate immediately.
    */
  def withRetries[T](attempts: Int)(attempt: Int => T): T = {
    require(attempts >= 1, "attempts must be >= 1")
    var i = 1
    var last: Throwable = null
    while (i <= attempts) {
      try return attempt(i)
      catch { case scala.util.control.NonFatal(e) => last = e; i += 1 }
    }
    throw new RuntimeException(s"fetch failed after $attempts attempts", last)
  }

  /** The full windowed ingest: for each window fetch rows (with the
    * retry budget) and hand the chunk PLUS its window bounds to `sink`
    * before fetching the next. Returns the number of windows landed.
    *
    * The sink MUST key its write by the window (e.g. K2 replaceWindow
    * on a window-derived partition) for the recovery story to hold: a
    * window whose fetch exhausts its retries aborts the run with all
    * previously landed chunks intact, and the rerun re-fetches every
    * window of the span — re-landed windows must REPLACE their earlier
    * copy, not append beside it, or pre-crash windows double. (The
    * reference has the same contract: per-period upload into a
    * delete-and-replace window, consumo_detalle.py:364-381 + K2.)
    */
  def windowedIngest(spark: SparkSession, schema: StructType,
                     start: LocalDateTime, endExclusive: LocalDateTime,
                     step: Duration, attempts: Int = 3)
                    (fetch: (LocalDateTime, LocalDateTime) => Seq[Row])
                    (sink: (DataFrame, LocalDateTime, LocalDateTime) => Unit): Int = {
    var landed = 0
    dateWindows(start, endExclusive, step).foreach { case (from, to) =>
      val rows = withRetries(attempts)(_ => fetch(from, to))
      sink(Readers.fromRows(spark, rows, schema), from, to)
      landed += 1
    }
    landed
  }

  /** The ready-made window-keyed sink: each chunk lands in the
    * partition of its WINDOW START (epoch seconds) of a snapshot table,
    * replacing any earlier copy of the same window in one atomic
    * commit. An EMPTY re-fetch still clears the window — the "day whose
    * re-extract came back empty must still be deleted" case the
    * replacePeriodWindow scaladoc calls out. With this sink a rerun of
    * `windowedIngest` over the same span makes the landing table EQUAL
    * a clean single run, regardless of how row contents moved or
    * vanished between fetches.
    */
  def windowKeyedSink(path: String, windowCol: String = "w")
                     (df: DataFrame, from: LocalDateTime, to: LocalDateTime): Unit = {
    val key = from.toEpochSecond(ZoneOffset.UTC)
    val keyed = df.withColumn(windowCol, lit(key))
    Snapshot.createIfAbsent(df.sparkSession, path, keyed.schema, Seq(windowCol))
    Snapshot.replacePartitions(df.sparkSession, path, keyed,
      dropOld = _.get(windowCol).contains(key.toString))
  }
}
