package graft.operators

import java.sql.Timestamp

import graft.{SparkSpec, TestSpark}

/** OHLC bars (ev11) and the correlation matrix (dp5): tie-break
  * determinism on hand data, algebraic sanity on driver testdata.
  */
class EventBarsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("open/close pick by (ts, event_id) — duplicate timestamps tie-break by id") {
    val events = Seq(
      // one hour bucket; two events share ts 10:00:05 — open must be
      // the LOWER event_id (3), not whichever row arrives first
      (5L, ts("2024-01-01 10:00:30"), "click", 9.0),
      (3L, ts("2024-01-01 10:00:05"), "click", 1.5),
      (4L, ts("2024-01-01 10:00:05"), "click", 2.5),
      // close: latest ts, and on the shared final ts the HIGHER id (8)
      (7L, ts("2024-01-01 10:59:59"), "click", 4.0),
      (8L, ts("2024-01-01 10:59:59"), "click", 7.25),
      // second bucket, single event: open==close==high==low
      (9L, ts("2024-01-01 11:15:00"), "click", 3.0)
    ).toDF("event_id", "ts", "event_type", "value")

    val bars = EventOps.ohlcBars(events).orderBy("hour").collect()
    assert(bars.length === 2)
    val b0 = bars(0)
    assert(b0.getAs[Double]("open_v") === 1.5) // id 3 beats id 4 at equal ts
    assert(b0.getAs[Double]("close_v") === 7.25) // id 8 beats id 7 at equal ts
    assert(b0.getAs[Double]("high_v") === 9.0)
    assert(b0.getAs[Double]("low_v") === 1.5)
    assert(b0.getAs[Long]("n_events") === 5L)
    assert(b0.getAs[Double]("volume") === (9.0 + 1.5 + 2.5 + 4.0 + 7.25))
    val b1 = bars(1)
    assert(b1.getAs[Double]("open_v") === 3.0)
    assert(b1.getAs[Double]("close_v") === 3.0)
    assert(b1.getAs[Long]("n_events") === 1L)
  }

  test("ev11 bars on driver testdata: high >= open/close >= low") {
    val bars = graft.SparkEntry.queries("ev11_ohlc_bars")(spark, TestSpark.Sf0001)
      .collect()
    assert(bars.nonEmpty)
    bars.foreach { b =>
      val (o, h, l, c) = (b.getAs[Double]("open_v"), b.getAs[Double]("high_v"),
        b.getAs[Double]("low_v"), b.getAs[Double]("close_v"))
      assert(h >= o && h >= c && l <= o && l <= c, s"inconsistent bar: $b")
    }
  }

  test("dp5 correlations are in [-1, 1] and the matrix covers all pairs once") {
    val m = graft.SparkEntry.queries("dp5_correlation_matrix")(spark, TestSpark.Sf0001)
      .collect()
    assert(m.length === 6) // C(4,2)
    // pairs follow the profiled-column declaration order
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val expected = cols.combinations(2).map(p => (p(0), p(1))).toSet
    assert(m.map(r => (r.getString(0), r.getString(1))).toSet === expected)
    m.foreach { r =>
      val corr = r.getAs[Double]("corr")
      assert(corr >= -1.0 && corr <= 1.0, s"corr out of range: $r")
    }
  }
}
