package graft.perfbench

import graft.core.{DependentConf, Flags, Obs, StabilizationConf}
import graft.ops.Geo
import graft.pipeline.QcMain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Seeded generator of Belgica-style underway observations: one ship
  * track sampled by many datastreams, with known faults injected.
  *
  *  - The track is a 1 Hz WGS-84 geodesic walk (`Geo.geodesicDestination`)
  *    on a slow circle at 3.5-5 m/s, well below `max_dx_dt` = 6.89 m/s,
  *    with accelerations far below 0.15 m/s².
  *  - Each datastream samples the track at one of the given intervals
  *    (equal shares, in a seeded order), phase-aligned to the start.
  *  - Streams 0 and 1 are the independent/dependent pair, both at the
  *    shortest interval: the independent one carries the stabilization
  *    config and has an outage (values out of limits for 17 min) every
  *    90 min, the first 20 min in.
  *  - Faults, each with the least severity the pipeline must give it:
  *    out-of-range values (BAD, range check), spikes inside the range
  *    (PROBABLY_BAD, z-score), GPS jumps of 0.08° at a slot every stream
  *    samples (BAD, spatial outlier) and the 20 min of warm-up rows
  *    after each outage (BAD, stabilization).
  *
  * Each 15-min block of the track holds one out-of-range value (1-14 min
  * in), one GPS jump (11-14 min in) and one spike (10-14 min in, on one of
  * the densest streams). A cron window spans 900 s, so it holds one fault
  * of each kind. Windows start `dt_stabilization` (1200 s) after the track
  * starts, 300 s into a block, so a spike lands 300-540 s into its window
  * and its trailing z-score frame holds enough rows to reach |z| > 3.
  */
object ShipTrack {

  val BlockSec = 900
  val RangeLo = 0.0
  val RangeHi = 40.0
  val MaxDxDt = 6.89
  val DtStabilizationSec = 1200L
  val MaxAllowedDowntimeSec = 900L
  val OutageEverySec = 5400
  val OutageFirstSec = 1200
  val OutageLenSec = 1020
  private def gcd(a: Int, b: Int): Int = if (b == 0) a else gcd(b, a % b)

  /** 2024-06-01T00:00:00Z, on the 15-min grid; blocks start on it. */
  val DefaultT0Us = 1717200000L * 1000000L

  final case class StreamSpec(id: Long, dtSec: Int, base: Double, amp: Double,
                              periodSec: Double, phase: Double, property: String)

  final case class Fault(kind: String, iotId: Long, dsId: Long, tSec: Int,
                         expected: Byte)

  /** Observations are stored stream-major (stream order = `streams`),
    * time-ascending within a stream; `streamStart(k)` is the first row of
    * stream k and `streamStart(streams.length)` the row count.
    */
  final class Track(val seed: Long, val t0Us: Long, val seconds: Int,
                    val lat: Array[Double], val lon: Array[Double],
                    val streams: IndexedSeq[StreamSpec],
                    val streamStart: Array[Int],
                    val iotId: Array[Long], val tSec: Array[Int],
                    val value: Array[Double],
                    val faults: IndexedSeq[Fault]) {
    def rows: Int = iotId.length
    def independentId: Long = streams(0).id
    def dependentId: Long = streams(1).id
    def timeUs(row: Int): Long = t0Us + tSec(row) * 1000000L
    /** Observations at the same second share one FeatureOfInterest. */
    def featureId(row: Int): Long = tSec(row) + 1L

    /** The QC configuration a deployment would give these streams. */
    def config: QcMain.Config = QcMain.Config(
      rangeBounds = streams.map(s => s.id -> (RangeLo, RangeHi)).toMap,
      outlierMaxDxDt = MaxDxDt,
      maxVelocityMs = Some(MaxDxDt),
      regions = Seq(Geo.BoxRegion("NORTH SEA", "SOUTHERN BIGHT", 50.5, 52.5, 1.5, 4.5)),
      // the synthetic bathymetry peaks at +19 m: 25 keeps the depth check
      // in the plan without flagging the whole track
      depthThreshold = 25.0,
      stabilization = Seq(StabilizationConf(independentId, 5.0, 50.0,
        dtStabilizationSec = DtStabilizationSec,
        maxAllowedDowntimeSec = MaxAllowedDowntimeSec)),
      dependents = Seq(DependentConf(independentId, dependentId,
        dtToleranceUs = 500000L, secondaryRange = Some((RangeLo, RangeHi)))))

    /** All rows as an observations-schema frame. */
    def toDataFrame(spark: SparkSession, slices: Int): DataFrame = {
      val rowsOut = new java.util.ArrayList[Row](rows)
      var k = 0
      while (k < streams.length) {
        val s = streams(k)
        var i = streamStart(k)
        while (i < streamStart(k + 1)) {
          val t = tSec(i)
          rowsOut.add(Row(iotId(i), value(i),
            java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
              t0Us / 1000000L + t)),
            Flags.NoQc, s.id, s.property, "unit", lon(t), lat(t), featureId(i)))
          i += 1
        }
        k += 1
      }
      spark.createDataFrame(rowsOut, Obs.schema).repartition(slices)
    }
  }

  /** @param streams  datastream count (at least 3)
    * @param seconds  history length, under 10^6 s
    * @param rates    sampling intervals (s), shared equally among the streams;
    *                 the dependent pair samples at the shortest
    */
  def generate(seed: Long, streams: Int, seconds: Int, rates: Seq[Int] = Seq(1, 2, 3),
               t0Us: Long = DefaultT0Us): Track = {
    require(streams >= 3 && seconds > 0 && seconds < 1000000)
    val rnd = new java.util.Random(seed)

    // ---- ship track, 1 Hz
    val lat = new Array[Double](seconds)
    val lon = new Array[Double](seconds)
    lat(0) = 51.25 + 0.3 * rnd.nextDouble()
    lon(0) = 2.7 + 0.4 * rnd.nextDouble()
    val v0 = 3.5 + 1.0 * rnd.nextDouble()
    val radiusM = 3000.0 + 4000.0 * rnd.nextDouble()
    val turn = if (rnd.nextBoolean()) 1.0 else -1.0
    var heading = 360.0 * rnd.nextDouble()
    val speedPhase = 2 * math.Pi * rnd.nextDouble()
    var t = 1
    while (t < seconds) {
      val v = v0 + 0.3 * math.sin(2 * math.Pi * t / 2400.0 + speedPhase)
      val (la, lo) = Geo.geodesicDestination(lat(t - 1), lon(t - 1), v, heading)
      lat(t) = la; lon(t) = lo
      heading = (heading + turn * math.toDegrees(v / radiusM)) % 360.0
      t += 1
    }

    // ---- streams: the pair at the shortest interval, the others equal shares
    // of the intervals in a seeded order (the row count does not depend on
    // the seed)
    val dts = Array.tabulate(streams)(i => if (i < 2) rates.min else rates((i - 2) % rates.length))
    for (i <- (2 until streams).reverse) {
      val j = 2 + rnd.nextInt(i - 1); val x = dts(i); dts(i) = dts(j); dts(j) = x
    }
    val props = Array("sea_water_temperature", "sea_water_salinity",
      "air_temperature", "wind_speed", "chlorophyll_fluorescence", "turbidity")
    val specs = (0 until streams).map { k =>
      StreamSpec(id = 7000L + k, dtSec = dts(k),
        base = 10.0 + 5.0 * rnd.nextDouble(), amp = 0.5 + 1.5 * rnd.nextDouble(),
        periodSec = 1200.0 + 2400.0 * rnd.nextDouble(),
        phase = 2 * math.Pi * rnd.nextDouble(), property = props(k % props.length))
    }

    // ---- GPS jumps: one slot per block that every stream samples, after the walk
    val blocks = (seconds + BlockSec - 1) / BlockSec
    val common = specs.map(_.dtSec).distinct.foldLeft(1)((a, b) => a / gcd(a, b) * b)
    val jumpSec = (0 until blocks).map { b =>
      val first = b * BlockSec + 660
      val slot = first + (common - first % common) % common
      slot + common * rnd.nextInt(math.max(1, (BlockSec - 60 - (slot - b * BlockSec)) / common))
    }.filter(_ < seconds)
    jumpSec.foreach { s => lat(s) += (if (rnd.nextBoolean()) 0.08 else -0.08) }
    val jumpSet = jumpSec.toSet

    // ---- outages of the independent stream
    val outages = Iterator.iterate(OutageFirstSec)(_ + OutageEverySec)
      .takeWhile(_ < seconds).toIndexedSeq
    def inOutage(s: Int): Boolean =
      outages.exists(o => s >= o && s < o + OutageLenSec)
    // warm-up: after the last out-of-limits sample, for dt_stabilization
    def inWarmup(s: Int): Boolean = outages.exists { o =>
      val end = o + OutageLenSec - 1
      val last = end - end % specs(0).dtSec
      s > last && s < last + DtStabilizationSec
    }

    // ---- per-block value faults on the streams outside the pair
    // spikes go to the densest streams: a z-score over n trailing rows
    // cannot exceed (n-1)/sqrt(n), so 3 needs at least 11 rows of context
    val dMin = (2 until streams).map(specs(_).dtSec).min
    val densest = (2 until streams).filter(k => specs(k).dtSec == dMin)
    val spikeAt = (0 until blocks).map(b =>
      (densest(rnd.nextInt(densest.size)), b * BlockSec + 600 + rnd.nextInt(240)))
    val oorAt = (0 until blocks).map(b =>
      (2 + rnd.nextInt(streams - 2), b * BlockSec + 60 + rnd.nextInt(780)))
    def snap(k: Int, s: Int): Int = s - s % specs(k).dtSec
    val spikes = spikeAt.map { case (k, s) => (k, snap(k, s)) }.filter(_._2 < seconds).toSet
    val oors = oorAt.map { case (k, s) => (k, snap(k, s)) }.filter(_._2 < seconds).toSet

    // ---- observations
    val start = new Array[Int](streams + 1)
    val n = specs.map(s => (seconds + s.dtSec - 1) / s.dtSec).sum
    val ids = new Array[Long](n)
    val ts = new Array[Int](n)
    val vs = new Array[Double](n)
    val faults = IndexedSeq.newBuilder[Fault]
    var row = 0
    for (k <- 0 until streams) {
      start(k) = row
      val sp = specs(k)
      var s = 0
      while (s < seconds) {
        val iot = 1000000L * (k + 1) + s
        var v = sp.base + sp.amp * math.sin(2 * math.Pi * s / sp.periodSec + sp.phase) +
          0.05 * rnd.nextGaussian()
        if (k == 0 && inOutage(s)) v = -1.0
        if (k == 0 && inWarmup(s)) faults += Fault("warmup", iot, sp.id, s, Flags.Bad)
        if (spikes((k, s))) {
          v += 20.0; faults += Fault("spike", iot, sp.id, s, Flags.ProbablyBad)
        }
        if (oors((k, s))) {
          v = 45.0; faults += Fault("out_of_range", iot, sp.id, s, Flags.Bad)
        }
        if (jumpSet(s)) faults += Fault("gps_jump", iot, sp.id, s, Flags.Bad)
        ids(row) = iot; ts(row) = s; vs(row) = v
        row += 1
        s += sp.dtSec
      }
    }
    start(streams) = row
    new Track(seed, t0Us, seconds, lat, lon, specs, start, ids, ts, vs, faults.result())
  }
}
