package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.transform.AprsCalibration

/** The daemon's calibration operator (the one streaming implementation;
  * [[AprsCalibration]] is its batch oracle twin): the reference's process-global
  * `telemetryDictionary` (callsign → 5×{a,b,c}, last-write-wins, written by
  * telemetry-message packets — /root/reference/aprs2influxdb/__main__.py:
  * 979-993, read at :114-125) as keyed streaming state.
  *
  * flatMapGroupsWithState keyed by `from`: one shuffle on the callsign,
  * state is per-key and partition-local (scales with stations × 15
  * doubles — trivially sharded across 1000 executors), checkpointable (an
  * upgrade over the reference's lost-on-restart map, SURVEY §2.9). Within
  * a micro-batch, rows are applied in arrival order (`seqCol`, assigned by
  * the source) — matching the reference's single-threaded consumer
  * ordering per station. State has no timeout: like the reference's
  * never-evicted dictionary, a station's equations live until replaced.
  * Every packet's full Row goes through the state op, because all rows
  * flow on to the line formatter; a narrow telemetry-only state op
  * unioned with the other formats would scan the source twice.
  */
object TelemetryProcessor {

  val CalCol: String = AprsCalibration.CalCol

  /** Adds the `_cal` column via keyed state. Works identically over a
    * batch DataFrame (each group processed once) and a streaming one
    * (state carries across micro-batches). */
  def attach(df: DataFrame, seqCol: String): DataFrame = {
    val inSchema = df.schema
    val outSchema = inSchema.add(CalCol, ArrayType(ArrayType(DoubleType)))
    val seqIdx = inSchema.fieldIndex(seqCol)
    val fmtIdx = inSchema.fieldIndex("format")
    val eqIdx = inSchema.fieldIndex("tEQNS")

    def process(key: String, rows: Iterator[Row],
        state: GroupState[Seq[Seq[Double]]]): Iterator[Row] = {
      val ordered = rows.toSeq.sortBy(_.getLong(seqIdx))
      val out = Seq.newBuilder[Row]
      var cal: Seq[Seq[Double]] = state.getOption.orNull
      ordered.foreach { r =>
        if (r.getString(fmtIdx) == "telemetry-message") {
          val eq = r.getAs[scala.collection.Seq[scala.collection.Seq[Double]]](eqIdx)
          if (eq != null) { // parseEquations returns None ⇒ no update
            cal = eq.map(_.toSeq).toSeq
            state.update(cal)
          }
          out += Row.fromSeq(r.toSeq :+ null) // emits nothing downstream
        } else {
          out += Row.fromSeq(r.toSeq :+ cal)
        }
      }
      out.result().iterator
    }

    df.groupByKey(r => Option(r.getString(inSchema.fieldIndex("from"))).getOrElse(""))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(process)(
        Encoders.kryo[Seq[Seq[Double]]], Encoders.row(outSchema))
  }
}
