package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}

/** A finalized day's drift row — the same frame the batch q_ewma_drift
  * emits: NULL ewma/drift for a type's first-ever day (no trailing days).
  */
final case class DriftRow(event_type: String, day: java.sql.Timestamp,
    cnt: Long, ewma: Option[Double], drift: Option[Double])

/** Streaming realization of the batch EWMA drift monitor (q_ewma_drift,
  * graft.ops.TimeWindows): per event type, each UTC day's count is compared
  * against the α=1/2 EWMA of the trailing ≤8 PRESENT days. The batch query
  * phrases the EWMA as 8 lags over the (type × day) frame; here the same
  * numbers fall out of the ring of ≤8 finalized day counts that
  * [[WatermarkFold.bucketRing]] carries per type. Arithmetic is the batch
  * query's exactly: integer numerator Σ cnt_j·2^(7−j) (j = 0 the most
  * recent trailing day) and present-days denominator, then ewma and drift
  * as single IEEE divisions — so a replayed stream matches the
  * DuckDB-hash-checked batch frame BIT-for-bit (StreamingDriftSpec pins
  * it).
  *
  * 100 TB shape: state per event type is the ≤8-count ring plus the
  * open-day counts inside the lateness horizon — constant, independent of
  * event volume; each day finalizes exactly once and emits one
  * append-mode row.
  */
object StreamingDrift {

  private val DayUs = 86400000000L

  def ewmaDrift(stream: DataFrame, tsCol: String, typeCol: String,
      lateness: String): Dataset[DriftRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    WatermarkFold.bucketRing(stream, tsCol, typeCol, lateness, DayUs,
        ringLen = 8) { (key, day, cnt, ring) =>
      var num = 0L
      var den = 0L
      var j = 0
      while (j < ring.length) { // j = 0 the most recent trailing day
        num += ring(ring.length - 1 - j) * (1L << (7 - j))
        den += 1L << (7 - j)
        j += 1
      }
      val ewma = if (den > 0) Some(num.toDouble / den.toDouble) else None
      DriftRow(key, new java.sql.Timestamp(day / 1000L), cnt, ewma,
        ewma.map(e => cnt.toDouble / e))
    }
  }
}
