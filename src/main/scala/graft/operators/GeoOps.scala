package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryFn
import graft.model.Catalog
import graft.operators.Joins.Band

/** Geospatial + temporal GM operators.
  *
  * - `event_station_distances` — source-to-site distances
  *   (`nzgmdb/calculation/distances.py:582-598`: r_epi from geodesics,
  *   r_hyp = sqrt(r_epi² + depth²), bearings; driver at
  *   `distances.py:398`). Spark shape: a coarse-latitude banded join
  *   (the station side is dimension-sized and broadcast), then exact
  *   filtering.
  *   Distance math is equirectangular with fixed NZ-latitude metric
  *   coefficients: multiply/add/sqrt are IEEE-exact cross-engine,
  *   whereas trig differs in the last ulp (dev/PORTABILITY.md), so the
  *   checked output stays bit-exact; the bearing is reported as an
  *   octant class (pure sign/magnitude comparisons) for the same
  *   reason.
  * - `tect_domain` — tectonic-domain tagging
  *   (`data_retrieval/tect_domain.py:306,357`): point-in-convex-polygon
  *   via half-plane cross-product tests against a broadcast domain
  *   table, lowest-priority match wins, "Oceanic" default.
  * - `aftershock_flags` — Gardner-Knopoff-style time/space windowing
  *   (`calculation/aftershocks.py:19,222`): an event is flagged when a
  *   larger event exists within a magnitude-dependent window. The
  *   self-join is one [[Joins.banded]] join per magnitude class, banded
  *   on (time, lat, lon) to that class's window — never all-pairs.
  * - `decimal_year` — `aftershocks.py:117`: integer epoch arithmetic,
  *   one exact division.
  */
object GeoOps {

  // Equirectangular metric at NZ latitudes (~-42°): km per degree.
  val KmPerDegLat = 111.2
  val KmPerDegLon = 82.7
  val MaxKm       = 300.0
  val BandDeg     = 3.0 // lat bucket width of the station-pair joins

  private def dxKm: Column = (col("sta_lon") - col("ev_lon")) * KmPerDegLon
  private def dyKm: Column = (col("sta_lat") - col("ev_lat")) * KmPerDegLat

  /** Bearing octant 0..7 (N, NE, E, SE, S, SW, W, NW) from pure
    * comparisons — the portable stand-in for atan2 azimuth. */
  private def azOctant(dx: Column, dy: Column): Column = {
    val east  = dx >= 0
    val north = dy >= 0
    val steep = abs(dy) >= abs(dx) // closer to the N-S axis
    when(north && east && steep, 0).when(north && east, 1)
      .when(!north && east && !steep, 2).when(!north && east, 3)
      .when(!north && !east && steep, 4).when(!north && !east, 5)
      .when(north && !east && !steep, 6).otherwise(7)
  }

  def eventStationDistances(s: SparkSession, d: String): DataFrame =
    pairFrame(s, d).select("evid", "sta", "r_epi", "r_hyp", "az_oct")

  /** Pre-fan-out width boost for a dimension-sized scan feeding a
    * broadcast-join pair generator. The generator multiplies each
    * event row ~160x (3 bands x in-band stations) and evaluates all
    * the per-pair math in the SAME stage as the scan, so stage
    * parallelism equals the SCAN's split count — and the events file
    * is one parquet split, which serialized the whole 24M-row
    * generation onto a single task (~17 core-s at ~1.5-core occupancy;
    * the one long task any box contention doubles — the r7-r9 "driver
    * anomaly" on propagation_table). A skinny repartition (150k narrow
    * rows, trivial exchange) buys full-width generation; gated so a
    * genuinely multi-split scan (the 100 TB case) keeps its natural
    * partitioning and pays nothing. */
  private def fanoutWide(s: SparkSession, df: DataFrame): DataFrame = {
    val width = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < width) df.repartition(width) else df
  }

  /** Candidate (event, station) pairs under [[eventStationDistancesGeo]]
    * and [[pairFrame]]; callers apply the exact MaxKm cutoff. */
  private def stationPairs(s: SparkSession, d: String): DataFrame =
    Joins.banded(fanoutWide(s, Catalog.events(s, d)), broadcast(Catalog.stations(s, d)),
      Seq(Band.symmetric(col("ev_lat"), col("sta_lat"), BandDeg, MaxKm / KmPerDegLat)))

  // Mean Earth radius (IUGG), km — the spherical production metric.
  val EarthRadiusKm = 6371.0088

  /** Production-grade source-to-site distances: great-circle r_epi
    * (haversine) and initial bearing in degrees — the user-facing twin
    * of [[eventStationDistances]], matching the reference's geodesic
    * outputs (`calculation/distances.py:581 geo.get_distances`, pyproj
    * `Geod`; spherical haversine here, WGS-84 flattening is a <0.6%
    * refinement). Trig is NOT bit-portable cross-engine
    * (dev/PORTABILITY.md), so this variant is rows-only at the gate
    * and value-checked by a driver-side recompute test; the candidate
    * pair set (banded join + equirectangular cutoff) is IDENTICAL to
    * the bit-exact gate operator, so the two variants publish the same
    * rows with refined values. */
  def eventStationDistancesGeo(s: SparkSession, d: String): DataFrame = {
    val dx = dxKm
    val dy = dyKm
    val phi1 = radians(col("ev_lat"))
    val phi2 = radians(col("sta_lat"))
    val dphi = radians(col("sta_lat") - col("ev_lat"))
    val dlam = radians(col("sta_lon") - col("ev_lon"))
    val sp = sin(dphi / 2)
    val sl = sin(dlam / 2)
    val h = sp * sp + cos(phi1) * cos(phi2) * sl * sl
    val rEpi = lit(2 * EarthRadiusKm) * asin(sqrt(h))
    val az = (degrees(atan2(sin(dlam) * cos(phi2),
      cos(phi1) * sin(phi2) - sin(phi1) * cos(phi2) * cos(dlam))) + 360) % 360
    stationPairs(s, d)
      .filter(sqrt(dx * dx + dy * dy) <= MaxKm)
      .select(col("evid"), col("sta"), rEpi.as("r_epi"),
        sqrt(rEpi * rEpi + col("ev_depth") * col("ev_depth")).as("r_hyp"),
        az.as("azimuth_deg"))
  }

  val RupMagMin = 5.5

  private val MaxRupMag = 9 // rupture extents are sized for magnitudes up to this
  private val RupHalfWDegPerMag = 0.05
  // oblique-plane half-length (= width), km: the columns and the band reach read it here
  private val RupHalfLenKmPerMag = 5.0
  private val RupHalfLenZeroMag = 2.5
  private def rupHalfLenKm(mag: Column): Column =
    (floor(mag) - RupHalfLenZeroMag) * RupHalfLenKmPerMag

  /** The magnitude-sized rupture-plane boxes (large events only —
    * dimension-sized at any scale, always broadcastable). */
  private def rupPlanes(events: DataFrame): DataFrame = {
    val halfW = floor(col("mag")) * lit(RupHalfWDegPerMag) // half-width in degrees
    events.filter(col("mag") >= RupMagMin)
      .select(col("evid"), col("mag"),
        (col("ev_lat") - halfW).as("lat1"), (col("ev_lat") + halfW).as("lat2"),
        (col("ev_lon") - halfW).as("lon1"), (col("ev_lon") + halfW).as("lon2"),
        (col("ev_depth") * 0.5).as("ztop"))
  }

  // nearest point of the box to the station, then planar km distance;
  // shared by the banded rrup query and the propagation inline path
  private def rupJbCol: Column = {
    val cLat = greatest(col("lat1"), least(col("lat2"), col("sta_lat")))
    val cLon = greatest(col("lon1"), least(col("lon2"), col("sta_lon")))
    val dxKm = (col("sta_lon") - cLon) * KmPerDegLon
    val dyKm = (col("sta_lat") - cLat) * KmPerDegLat
    sqrt(dxKm * dxKm + dyKm * dyKm)
  }
  // GC2-style strike coordinates of the propagation table: r_x, signed
  // km from the extended strike line (the box strike runs east-west, so
  // the north-positive offset from the box centre line, the hanging-wall
  // convention of `src_site_dist.calc_rx_ry`), and r_y, km along strike
  // beyond the trace ends (0 inside). greatest/least/abs — bit-portable.
  private def rupXCol: Column =
    (col("sta_lat") - (col("lat1") + col("lat2")) / 2) * KmPerDegLat
  private def rupYCol: Column =
    greatest(lit(0.0),
      abs((col("sta_lon") - (col("lon1") + col("lon2")) / 2) * KmPerDegLon)
        - (col("lon2") - col("lon1")) / 2 * KmPerDegLon)

  /** Rupture-plane distances (`distances.py` r_rup / r_jb): for large
    * events a finite rupture surface replaces the point source. The
    * synthetic plane is an axis-aligned box around the epicentre sized
    * by magnitude class; r_jb is the horizontal distance to the
    * clamped nearest point of the box (greatest/least + sqrt — exact
    * cross-engine), r_rup adds the top-of-rupture depth. The plane
    * side is dimension-sized (large events only) and broadcast; the
    * station product is cut by the same lat-band prefilter as
    * [[eventStationDistances]]. */
  def rrupDistances(s: SparkSession, d: String): DataFrame =
    rrupDistances(s, Catalog.events(s, d), Catalog.stations(s, d))

  /** [[rrupDistances]] over given event and station frames. */
  private[graft] def rrupDistances(s: SparkSession, events: DataFrame, stations: DataFrame): DataFrame = {
    // MaxKm/KmPerDegLat (2.70°) plus the box half-width (0.45° at mag 9)
    // can exceed one 3° band: the derived offsets are ±2
    val reach = MaxKm / KmPerDegLat + MaxRupMag * RupHalfWDegPerMag
    Joins.banded(broadcast(rupPlanes(events)), fanoutWide(s, stations),
        Seq(Band.symmetric((col("lat1") + col("lat2")) / 2, col("sta_lat"), BandDeg, reach)))
      .withColumn("r_jb", rupJbCol)
      .filter(col("r_jb") <= MaxKm)
      .select(col("evid"), col("sta"), col("r_jb"),
        sqrt(col("r_jb") * col("r_jb") + col("ztop") * col("ztop")).as("r_rup"))
  }

  /** Production-grade rupture distances with OBLIQUE plane geometry —
    * the user-facing twin of [[rrupDistances]] matching the
    * reference's strike/dip rupture traversal
    * (`data_retrieval/rupture_models.py:1-133`,
    * `calculation/distances.py:519-524`). Each large event gets a
    * dipping rectangular plane (strike/dip/length/width derived
    * deterministically from the catalogue row — the slot a real
    * rupture-model table plugs into), r_rup is the true 3D
    * point-to-rectangle distance via clamped projections onto the
    * strike/down-dip frame, r_jb the horizontal distance to the
    * surface-projected rectangle. Trig rotations are not bit-portable
    * cross-engine, so like the geodesic distances this is rows-only at
    * the gate and value-checked by a driver-side recompute test; the
    * plane side stays broadcast + lat-banded. */
  def rrupDistancesGeo(s: SparkSession, d: String): DataFrame =
    rrupDistancesGeo(s, Catalog.events(s, d), Catalog.stations(s, d))

  /** [[rrupDistancesGeo]] over given event and station frames. */
  private[graft] def rrupDistancesGeo(s: SparkSession, events: DataFrame, stations: DataFrame): DataFrame = {
    val halfL = rupHalfLenKm(col("mag")) // along-strike half-length, km
    val width = halfL                    // down-dip width, km
    // All trig evaluates on the PLANE side (dimension-sized, broadcast):
    // the per-pair math below is pure +,-,*,/ over the precomputed
    // frame vectors — measured ~2x on the banded product.
    val strike = radians((col("evid") % 360).cast("double"))
    val dip = radians(lit(30.0) + (col("evid") % 6) * 10.0)
    val planes = events.filter(col("mag") >= RupMagMin)
      .select(col("evid"), col("ev_lat"), col("ev_lon"),
        sin(strike).as("sx"), cos(strike).as("sy"),
        cos(strike).as("hx"), (-sin(strike)).as("hy"),
        cos(dip).as("cd"), sin(dip).as("sd"),
        halfL.as("half_l"), width.as("wid"),
        (col("ev_depth") * 0.5).as("ztop"))
    // the surface rectangle reaches at most half_l + wid·cos(dip) ≤
    // 2·half_l (65 km at mag 9) from the epicentre: the offsets are ±2
    val reach = (MaxKm + 2 * (MaxRupMag - RupHalfLenZeroMag) * RupHalfLenKmPerMag) / KmPerDegLat
    val dx = (col("sta_lon") - col("ev_lon")) * KmPerDegLon // East, km
    val dy = (col("sta_lat") - col("ev_lat")) * KmPerDegLat // North, km
    val (sx, sy) = (col("sx"), col("sy"))  // strike unit (E,N)
    val (hx, hy) = (col("hx"), col("hy"))  // dip-direction horizontal unit
    Joins.banded(broadcast(planes), fanoutWide(s, stations),
        Seq(Band.symmetric(col("ev_lat"), col("sta_lat"), BandDeg, reach)))
      // 3D frame: r = station - top-edge anchor (anchor at depth ztop, up = +z)
      .withColumn("rz", col("ztop"))
      .withColumn("sp", greatest(-col("half_l"), least(col("half_l"), dx * sx + dy * sy)))
      .withColumn("wp", greatest(lit(0.0), least(col("wid"),
        dx * hx * col("cd") + dy * hy * col("cd") - col("rz") * col("sd"))))
      .withColumn("nx", col("sp") * sx + col("wp") * col("cd") * hx)
      .withColumn("ny", col("sp") * sy + col("wp") * col("cd") * hy)
      .withColumn("nz", col("wp") * -col("sd"))
      .withColumn("r_rup", sqrt((dx - col("nx")) * (dx - col("nx")) +
        (dy - col("ny")) * (dy - col("ny")) + (col("rz") - col("nz")) * (col("rz") - col("nz"))))
      // surface projection: rectangle half_l x wid*cos(dip) in the horizontal frame
      .withColumn("s2", greatest(-col("half_l"), least(col("half_l"), dx * sx + dy * sy)))
      .withColumn("w2", greatest(lit(0.0), least(col("wid") * col("cd"), dx * hx + dy * hy)))
      .withColumn("r_jb", sqrt((dx - (col("s2") * sx + col("w2") * hx)) * (dx - (col("s2") * sx + col("w2") * hx)) +
        (dy - (col("s2") * sy + col("w2") * hy)) * (dy - (col("s2") * sy + col("w2") * hy))))
      .filter(col("r_jb") <= MaxKm)
      .select(col("evid"), col("sta"), col("r_rup"), col("r_jb"))
  }

  /** Rupture-plane corner vertices — the reference's
    * corner_{0..3}_{lat,lon,depth} columns
    * (`data_retrieval/rupture_models.py`, propagation-data assembly
    * around `distances.py:650`): ULC/URC/LLC/LRC of the dipping
    * rectangle, from the same strike/dip frame as
    * [[rrupDistancesGeo]]. One explode over a 4-element literal
    * corner table per large event; rows-only at the gate (trig),
    * recompute-tested. */
  def ccldVertices(s: SparkSession, d: String): DataFrame = {
    val halfL = rupHalfLenKm(col("mag"))
    val corners = explode(array(
      struct(lit(0L).as("corner"), lit(-1.0).as("su"), lit(0.0).as("wu")),  // ULC
      struct(lit(1L).as("corner"), lit(1.0).as("su"), lit(0.0).as("wu")),   // URC
      struct(lit(2L).as("corner"), lit(-1.0).as("su"), lit(1.0).as("wu")),  // LLC
      struct(lit(3L).as("corner"), lit(1.0).as("su"), lit(1.0).as("wu")))).as("c")
    Catalog.events(s, d).filter(col("mag") >= RupMagMin)
      .select(col("evid"), col("ev_lat"), col("ev_lon"),
        radians((col("evid") % 360).cast("double")).as("strike"),
        radians(lit(30.0) + (col("evid") % 6) * 10.0).as("dip"),
        halfL.as("half_l"), halfL.as("wid"),
        (col("ev_depth") * 0.5).as("ztop"), corners)
      .select(col("evid"), col("c.corner").as("corner"),
        (col("ev_lat") + (col("c.su") * col("half_l") * cos(col("strike")) +
          col("c.wu") * col("wid") * cos(col("dip")) * -sin(col("strike"))) / KmPerDegLat).as("c_lat"),
        (col("ev_lon") + (col("c.su") * col("half_l") * sin(col("strike")) +
          col("c.wu") * col("wid") * cos(col("dip")) * cos(col("strike"))) / KmPerDegLon).as("c_lon"),
        (col("ztop") + col("c.wu") * col("wid") * sin(col("dip"))).as("c_depth"))
  }

  // ---- tectonic domains ------------------------------------------

  /** Convex quads (CCW vertex order) with priority; lowest priority
    * wins, events outside every quad default to "Oceanic". Synthetic
    * stand-ins for the reference's domain shapefile. */
  val domains: Seq[(Int, String, Seq[(Double, Double)])] = Seq(
    (1, "Hikurangi", Seq((173.0, -42.5), (179.0, -41.5), (179.0, -36.0), (174.5, -37.5))),
    (2, "Alpine",    Seq((166.5, -46.5), (171.5, -44.5), (174.5, -41.0), (168.0, -45.5))),
    (3, "TVZ",       Seq((172.0, -40.0), (177.5, -39.5), (177.0, -35.5), (171.0, -36.5))))

  /** p inside the convex CCW polygon iff every edge cross product is
    * >= 0 — multiply/subtract only, bit-exact cross-engine. */
  private def insideQuad(verts: Seq[(Double, Double)], px: Column, py: Column): Column =
    verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      (lit(x2 - x1) * (py - lit(y1)) - lit(y2 - y1) * (px - lit(x1))) >= 0
    }.reduce(_ && _)

  /** Single pass: the domain table is tiny and static, so the
    * containment tests inline as a priority-ordered CASE (the
    * degenerate form of broadcasting the polygon table — with a
    * non-literal polygon source this becomes a broadcast join with the
    * same half-plane predicate). */
  def tectDomain(s: SparkSession, d: String): DataFrame = {
    val ev = Catalog.events(s, d)
    val domainCase = domains.sortBy(_._1).foldRight(lit("Oceanic"): Column) {
      case ((_, name, verts), elseCol) =>
        when(insideQuad(verts, col("ev_lon"), col("ev_lat")), lit(name)).otherwise(elseCol)
    }
    ev.select(col("evid"), col("ev_lat"), col("ev_lon"), domainCase.as("domain"))
  }

  /** Synthetic basin outlines (CCW convex quads) — stand-ins for the
    * reference's basin outline files (`data_retrieval/sites.py:122
    * add_site_basins`, Velocity_Model `basin_outlines_dict`, named
    * per its rename table). LIST ORDER IS SEMANTIC: the reference
    * assigns by looping over outlines and OVERWRITING the basin
    * column, so the LAST containing outline wins (note the contrast
    * with [[domains]], where the lowest priority wins). North
    * Canterbury deliberately overlaps Canterbury to pin that rule. */
  val basins: Seq[(String, Seq[(Double, Double)])] = Seq(
    ("Canterbury",         Seq((170.0, -45.0), (174.0, -45.0), (174.0, -42.0), (170.0, -42.0))),
    ("North Canterbury",   Seq((171.0, -43.5), (173.0, -43.5), (173.0, -42.5), (171.0, -42.5))),
    ("Greater Wellington", Seq((174.0, -41.8), (176.0, -41.8), (176.0, -40.8), (174.0, -40.8))),
    ("Waikato Hauraki",    Seq((174.5, -38.5), (176.5, -38.5), (176.5, -36.5), (174.5, -36.5))))

  /** Per-station basin tagging (`sites.py:122-181`): the site-table
    * `basin` column the reference publishes alongside Vs30. Same
    * broadcast-quad containment as [[tectDomain]] but with the
    * loop-overwrite (last-wins) semantics and a NULL default — a
    * foldLeft in list order where each containing basin overwrites
    * the accumulator. Pure projection over the dimension table. */
  def siteBasin(s: SparkSession, d: String): DataFrame = {
    val basinCase = basins.foldLeft(lit(null).cast("string")) {
      case (acc, (name, verts)) =>
        when(insideQuad(verts, col("sta_lon"), col("sta_lat")), lit(name)).otherwise(acc)
    }
    Catalog.stations(s, d)
      .select(col("sta"), col("sta_lat"), col("sta_lon"), col("sta_vs30"),
        basinCase.as("basin"))
  }

  /** The published earthquake source table (event_df at
    * `merge_flatfiles.py:170-253`, written :647 as
    * `earthquake_source_table.csv`): one row per event that reached
    * the IM catalogue (:211 `isin(unique_events)`), carrying the
    * mechanism angles under the reference's normalization rules
    * (strike == 360 → 0 at :205, rake > 180 → rake − 360 at :206),
    * the tectonic domain, decimal year, and the record count. The
    * raw strike/dip/rake derive from the event key — the slot the
    * GeoNet CSV mechanism columns plug into. Shape: one groupBy of
    * the record catalogue (count doubles as the semi-join), inline
    * broadcast-quad containment, pure projection — two partial-agg
    * shuffles end to end. */
  def eqSourceTable(s: SparkSession, d: String): DataFrame = {
    val recs = Catalog.records(s, d).groupBy(col("evid")).agg(count(lit(1)).as("n_records"))
    val domainCase = domains.sortBy(_._1).foldRight(lit("Oceanic"): Column) {
      case ((_, name, verts), elseCol) =>
        when(insideQuad(verts, col("ev_lon"), col("ev_lat")), lit(name)).otherwise(elseCol)
    }
    val strikeRaw = (col("evid") % 361).cast("double") // 0..360: exercises the ==360 rule
    val rakeRaw   = (col("evid") % 360).cast("double") // 0..359: exercises the >180 rule
    Catalog.events(s, d)
      .join(recs, Seq("evid"))
      .select(col("evid"), col("ev_us"), col("ev_lat").as("lat"), col("ev_lon").as("lon"),
        col("ev_depth").as("depth"), col("mag"),
        when(strikeRaw === 360.0, 0.0).otherwise(strikeRaw).as("strike"),
        ((col("evid") % 90).cast("double") + 1.0).as("dip"),
        when(rakeRaw > 180.0, rakeRaw - 360.0).otherwise(rakeRaw).as("rake"),
        domainCase.as("domain"),
        decimalYearCol(col("ev_us")).as("dec_year"),
        col("n_records"))
  }

  // ---- TVZ path terms --------------------------------------------

  /** The shared banded (event, station) pair frame: ONE banded join
    * carrying every per-pair path column — r_epi / r_hyp / azimuth
    * octant AND the TVZ clip terms. [[eventStationDistances]],
    * [[tvzPath]], and [[propagationTable]] are projections of this
    * frame; Catalyst's column pruning removes whatever a consumer
    * doesn't select (the standalone distance query never evaluates
    * the clip edges — verified in the committed plan audit), so the
    * single-product queries pay nothing while the propagation table
    * derives all its non-rupture columns from ONE pair generation. */
  private def pairFrame(s: SparkSession, d: String): DataFrame = {
    val verts = domains.find(_._2 == "TVZ").get._3
    def edgeF(i: Int, px: Column, py: Column): Column = {
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      lit(x2 - x1) * (py - lit(y1)) - lit(y2 - y1) * (px - lit(x1))
    }
    val dx = dxKm
    val dy = dyKm
    val base = stationPairs(s, d)
      .withColumn("r_epi", sqrt(dx * dx + dy * dy))
      .filter(col("r_epi") <= MaxKm)
    val withF = verts.indices.foldLeft(base) { (df, i) =>
      df.withColumn(s"fa$i", edgeF(i, col("ev_lon"), col("ev_lat")))
        .withColumn(s"fb$i", edgeF(i, col("sta_lon"), col("sta_lat")) - col(s"fa$i"))
    }
    val lows  = verts.indices.map(i => when(col(s"fb$i") > 0, -col(s"fa$i") / col(s"fb$i")).otherwise(lit(0.0)))
    val highs = verts.indices.map(i => when(col(s"fb$i") < 0, -col(s"fa$i") / col(s"fb$i")).otherwise(lit(1.0)))
    val degenerate = verts.indices.map(i => col(s"fb$i") === 0 && col(s"fa$i") < 0).reduce(_ || _)
    withF
      .withColumn("t_lo", greatest(lit(0.0) +: lows: _*))
      .withColumn("t_hi", least(lit(1.0) +: highs: _*))
      .withColumn("crossed", !degenerate && col("t_lo") < col("t_hi"))
      .select(col("evid"), col("sta"), col("sta_lat"), col("sta_lon"), col("r_epi"),
        sqrt(col("r_epi") * col("r_epi") + col("ev_depth") * col("ev_depth")).as("r_hyp"),
        azOctant(dx, dy).as("az_oct"),
        when(col("crossed"), col("t_hi") - col("t_lo")).otherwise(lit(0.0)).as("tvz_length"),
        when(col("crossed"), (lit(1.0) - col("t_hi")) * col("r_epi"))
          .otherwise(lit(null).cast("double")).as("boundary_dist"))
  }

  /** Taupo-volcanic-zone path terms (`calculation/distances.py:674
    * distance_in_taupo`): for each event→station path, the fraction of
    * the path crossing the TVZ polygon (the reference's `tvz_length`,
    * its km length normalized by r_epi and capped at 1) and the
    * station-to-boundary distance (`boundary_dist`, 0 when the station
    * sits inside the zone, NULL when the path never crosses).
    *
    * Shape: the same broadcast-station banded join as
    * [[eventStationDistances]], then a Liang-Barsky parametric clip of
    * the segment against the convex quad's four half-planes — each
    * edge contributes a linear function a_i + t·b_i whose sign gates
    * entry/exit, so the whole geometry is +,-,*,/ and comparisons:
    * bit-exact cross-engine, no trig, no shapely-style geometry lib.
    * Deviations from the reference's shapely quirks (first-geom pick
    * on MultiPoint) are resolved deterministically: boundary_dist is
    * measured to the path's exit crossing, which coincides with the
    * reference for the simple entry/exit case and is well-defined for
    * all others. */
  def tvzPath(s: SparkSession, d: String): DataFrame =
    pairFrame(s, d).select("evid", "sta", "tvz_length", "boundary_dist")

  /** The published propagation path table
    * (`calculation/distances.py:611-633` propagation_data rows,
    * written as `propagation_path_table.csv` at
    * `merge_flatfiles.py:659`; re-merged into the flatfiles at :434):
    * one row per qualifying (event, station) pair carrying every
    * path metric — r_epi / r_hyp / azimuth octant + back-azimuth from
    * [[eventStationDistances]], r_jb / r_rup / r_x / r_y from the
    * rupture frame (NULL for small events, exactly the reference's
    * left merge), and the Taupo-VZ crossing length / boundary
    * distance as r_tvz / r_xvf. The distance, azimuth, and TVZ
    * columns all come from ONE [[pairFrame]] pass (no second pair
    * generation), and the rupture columns compute INLINE against the
    * broadcast plane boxes (a dimension-sized left join on evid — no
    * shuffle of the pair set; the earlier (evid, sta) sort-merge
    * join against the banded rupture frame shuffled every pair row
    * and cost 17 s at sf0.1 vs ~4 s for this shape). The r_jb ≤
    * MaxKm gate applies per column so values match the standalone
    * `rrup_distances` rows exactly (beyond-cutoff and no-plane pairs
    * both yield NULLs, like the reference's left merge). */
  def propagationTable(s: SparkSession, d: String): DataFrame = {
    // ztop IS NULL ⇔ no plane matched the left join: the clamp
    // expressions MUST NOT run then — least/greatest skip NULLs, so
    // NULL box bounds would collapse the clamp to the station's own
    // coordinates and fabricate r_jb = 0
    val gate = col("ztop").isNotNull && col("r_jb0") <= MaxKm
    pairFrame(s, d)
      // History of the rounds-7-9 DELIBERATE stage break (a
      // repartition(evid, sta) here): with the whole 24M-row pair
      // generation running as ONE task (single-row-group inputs,
      // pre-round-10), fusing TVZ clip + azimuth + rupture expressions
      // crossed the JIT cliff (143 s interpreted; 25.7 s split-method
      // under the hugeMethodLimit guard; 12.9 s with the break's two
      // fused JIT'd stages), so paying the full-pair-frame shuffle was
      // the lesser evil. Round 10's gated ingest widening flipped that
      // trade: at 32-wide the split-method penalty parallelizes
      // (~23 core-s total) while the break's exchange was the suite's
      // single largest shuffle (1.7 GB/run, ~46 core-s of write+read).
      // Measured sf0.1 median-of-5: 1.78 s WITHOUT the break vs
      // 2.0-2.8 s with — the break is gone, and the whole operator is
      // now a single shuffle-free scan→project pipeline. At 100 TB the
      // same holds: a multi-split scan is already wide, and no pair
      // row ever crosses the wire.
      .withColumn("b_az_oct", (col("az_oct") + 4) % 8)
      .join(broadcast(rupPlanes(Catalog.events(s, d)).drop("mag")), Seq("evid"), "left")
      .withColumn("r_jb0", rupJbCol)
      .select(col("evid"), col("sta"), col("r_epi"), col("r_hyp"),
        when(gate, col("r_jb0")).otherwise(lit(null).cast("double")).as("r_jb"),
        when(gate, sqrt(col("r_jb0") * col("r_jb0") + col("ztop") * col("ztop")))
          .otherwise(lit(null).cast("double")).as("r_rup"),
        when(gate, rupXCol).otherwise(lit(null).cast("double")).as("r_x"),
        when(gate, rupYCol).otherwise(lit(null).cast("double")).as("r_y"),
        col("tvz_length").as("r_tvz"), col("boundary_dist").as("r_xvf"),
        col("az_oct"), col("b_az_oct"))
  }

  // ---- aftershock flagging ---------------------------------------

  val MagGapMin = 0.5 // mainshock must exceed by this
  /** Epoch-microseconds per day — EventOps owns the unit (single
    * source of truth across the event/sketch/geo day-bucketing). */
  val DayUs: Long = EventOps.DayUs

  /** Gardner-Knopoff-style windows, piecewise per magnitude class
    * (floor(mag) ∈ {3,4,5}) so both engines evaluate identical
    * arithmetic (no pow): (class, time window, distance window, lat and
    * lon bucket widths in degrees — the smallest round widths covering
    * the distance window, so every band's derived offsets are ±1). */
  val magClasses: Seq[(Int, Long, Double, Double, Double)] = Seq(
    (3, 10L * 86400L * 1000000L, 10.0, 0.1, 0.15),
    (4, 25L * 86400L * 1000000L, 30.0, 0.3, 0.4),
    (5, 50L * 86400L * 1000000L, 50.0, 0.5, 0.7))

  /** The class-pair core of both aftershock pair sets: (event,
    * container) pairs with `m_evid` a different event inside the time
    * window |dt| ≤ T and the distance window of the container's
    * magnitude class, that also meet `cond`. One banded join per class,
    * on (time, lat, lon) sized to that class's window — a flat 60-day
    * band was measured to blow up ~1000x on the dense synthetic
    * catalogue; per-class banding keeps the joined row count within a
    * small slack factor of the true qualifying pairs. `cond` runs
    * before the distance's sqrt. */
  private def classPairs(s: SparkSession, d: String, cond: Column): DataFrame = {
    val ev = Catalog.events(s, d)
    magClasses.map { case (cls, tUs, dKm, latDeg, lonDeg) =>
      val mains = ev.filter(floor(col("mag")) === cls)
        .select(col("evid").as("m_evid"), col("mag").as("m_mag"), col("ev_us").as("m_us"),
          col("ev_lat").as("m_lat"), col("ev_lon").as("m_lon"))
      val subs = ev.select("evid", "mag", "ev_us", "ev_lat", "ev_lon")
      val dx = (col("m_lon") - col("ev_lon")) * KmPerDegLon
      val dy = (col("m_lat") - col("ev_lat")) * KmPerDegLat
      Joins.banded(mains, subs, Seq(
          Band.symmetric(col("m_us"), col("ev_us"), tUs.toDouble, tUs.toDouble),
          Band.symmetric(col("m_lat"), col("ev_lat"), latDeg, dKm / KmPerDegLat),
          Band.symmetric(col("m_lon"), col("ev_lon"), lonDeg, dKm / KmPerDegLon)))
        .filter(col("m_evid") =!= col("evid") && abs(col("ev_us") - col("m_us")) <= tUs &&
          cond && sqrt(dx * dx + dy * dy) <= dKm)
        .select("evid", "mag", "m_evid", "m_mag")
    }.reduce(_ unionByName _)
  }

  /** Candidate (sub, main) pairs satisfying the magnitude-dependent
    * time/space windows: the class-pair core plus the Gardner-Knopoff
    * magnitude gap. */
  private def aftershockPairs(s: SparkSession, d: String): DataFrame =
    classPairs(s, d, col("m_mag") >= col("mag") + MagGapMin)

  def aftershockFlags(s: SparkSession, d: String): DataFrame = {
    val aft = aftershockPairs(s, d).select(col("evid")).distinct()
    Catalog.events(s, d).select("evid", "mag", "ev_us")
      .join(aft.withColumn("is_aftershock", lit(true)), Seq("evid"), "left")
      .select(col("evid"), col("mag"),
        coalesce(col("is_aftershock"), lit(false)).as("is_aftershock"))
  }

  /** Cluster assignment: each aftershock is attributed to its largest
    * qualifying mainshock (magnitude argmax, evid tiebreak) — the
    * relational core of the reference's greedy ABWD cluster labeling
    * (`aftershocks.py:222`), minus the sequential greedy pass
    * (documented gap, SURVEY §6). */
  def aftershockMainshock(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("evid")).orderBy(col("m_mag").desc, col("m_evid"))
    aftershockPairs(s, d)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("evid"), col("mag"), col("m_evid").as("main_evid"), col("m_mag").as("main_mag"))
  }

  // ---- greedy ABWD cluster labels --------------------------------

  /** Qualifying (event, container) pairs for the ABWD greedy
    * (`aftershocks.py:222 abwd_crjb`): the event falls inside
    * container m's FORWARD time window and spatial window. Unlike the
    * Gardner-Knopoff flags, ABWD has no magnitude condition at all on
    * the claimed side — the reference's `valid` mask is only
    * "unlabeled, dt in [0, window], within distance" — so a
    * higher-magnitude event that claimed nothing at its own step can
    * later be claimed by a smaller-magnitude container whose forward
    * window holds it. Both sides' magnitudes are emitted because the
    * greedy's processing order (mag DESC, evid ASC — the
    * deterministic stand-in for numpy's reversed stable argsort) is
    * resolved downstream, not encoded in the pair set. The class-pair
    * core plus the forward half of its time window. */
  private[graft] def abwdPairs(s: SparkSession, d: String): DataFrame =
    classPairs(s, d, col("ev_us") >= col("m_us"))

  val MaxAbwdRounds = 500

  /** The qualifying ABWD pair table, checkpointed and cached per data
    * dir (the sigCache pattern): ~O(events × window occupancy) narrow
    * rows, scanned many times per labeling run (dependency build,
    * per-round claim joins, the chunked tail's fused lookups, final
    * claim resolution) — and identical across runs on the same dir.
    * Released by [[Caches.clearAll]]. */
  private val abwdPairCache = new Caches.PerDir[DataFrame]("GeoOps.abwdPair", Seq(_))

  /** Materialize the per-dir ABWD pair table — the bench's named
    * SETUP step (the TextOps/AnnOps warmCaches pattern): the build is
    * charged to an explicit setup_sec, not to whichever
    * aftershock_clusters run happens first. The Gardner-Knopoff pair
    * table is deliberately NOT cached or warmed any more (r18):
    * aftershock_flags / aftershock_mainshock recompute it per call so
    * their timed numbers carry the declared work (the r17 verdict
    * flagged the per-dir memo as untimed-region relocation). */
  def warmCaches(s: SparkSession, d: String): Unit = {
    abwdPairsCached(s, d)
    ()
  }

  private def abwdPairsCached(s: SparkSession, d: String): DataFrame =
    abwdPairCache.get(d)(abwdPairs(s, d).localCheckpoint(true))

  /** Greedy ABWD cluster labels (`aftershocks.py:222`; reference test
    * `tests/test_aftershocks.py:52`): walk the catalogue in magnitude
    * order (mag DESC, evid ASC — the deterministic stand-in for
    * numpy's reversed stable argsort); each still-unlabeled event
    * with ≥1 still-unlabeled event in its forward window becomes a
    * mainshock, labels itself, and claims all of them. Faithful to
    * the reference's fine print: claims carry NO magnitude condition
    * (a barren earlier event can be claimed by a later, smaller
    * container — `valid` is only "unlabeled, dt in [0, window], in
    * range"), a mainshock labels itself only when it claims ≥1
    * event, and the order-last event never claims (the reference
    * loops `range(neq - 1)`).
    *
    * Output: cluster_evid = the claiming mainshock's evid (its own
    * for mainshocks, NULL for events in no cluster — the reference's
    * label-0), is_aftershock flag. */
  def aftershockClusters(s: SparkSession, d: String): DataFrame =
    abwdLabel(Catalog.events(s, d).select(col("evid"), col("mag")),
      abwdPairsCached(s, d))

  /** The batched greedy itself, factored over explicit (events,
    * pairs) inputs so tests can drive it with hand-computed fixtures.
    * `events`: (evid, mag); `pairs`: qualifying (evid, mag, m_evid,
    * m_mag) rows meaning event `evid` lies inside container
    * `m_evid`'s forward window — no order restriction between the
    * sides.
    *
    * Equivalence with the sequential greedy: the outcome is a
    * function of one bit per event — main(e), "e reached its own
    * step unlabeled and claimed ≥1 event" — because (i) e arrives
    * at its own step already labeled iff some order-earlier container
    * of e has main set, and (ii) a non-main event's final cluster is
    * its order-FIRST main container, whichever side of e it sits on
    * (the first main container in processing order finds e unlabeled
    * and claims it). main(e) itself depends only on main() of
    * order-earlier events: e's containers (arrival check), each
    * claimee x of e when x is order-earlier (x may have become a
    * mainshock), and x's order-earlier containers (x may already be
    * claimed at e's step). The loop materializes that dependency
    * graph ONCE, then each round evaluates main() for every event
    * whose dependencies are all decided — the order-minimal
    * undecided event always qualifies, so every round progresses;
    * rounds = dependency-chain depth, a function of local catalogue
    * density, not catalogue size. The events table is the SMALL table
    * of the schema, and every loop-carried table is eagerly
    * checkpointed to cut lineage. */
  private[graft] def abwdLabel(events: DataFrame, pairsIn: DataFrame): DataFrame =
    abwdLabel(events, pairsIn, AbwdTailThreshold)

  private[graft] def abwdLabel(events: DataFrame, pairsIn: DataFrame,
                               tailThreshold: Long): DataFrame = {
    // processing position is (mag DESC, evid ASC)
    def before(aMag: Column, aEvid: Column, bMag: Column, bEvid: Column): Column =
      aMag > bMag || (aMag === bMag && aEvid < bEvid)
    // materialize once per CALL unless the caller already did (the
    // per-dir cache hands in a checkpointed table; fixture tests hand
    // in local relations — either way one more checkpoint would cost
    // a full extra pass over the pair table every run)
    val pairsSel = pairsIn.select("evid", "mag", "m_evid", "m_mag")
    // "already materialized" must mean the plan IS a (possibly
    // projected/aliased) checkpointed or local leaf — matching a leaf
    // ANYWHERE in the tree would let a derived plan that merely
    // CONTAINS one (e.g. joins over a cached table) skip the
    // checkpoint and re-execute its whole subtree once per scan below
    def bareLeaf(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case pr: org.apache.spark.sql.catalyst.plans.logical.Project => bareLeaf(pr.child)
        case a: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => bareLeaf(a.child)
        case _: org.apache.spark.sql.execution.LogicalRDD => true
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
        case _ => false
      }
    val pairs =
      if (bareLeaf(pairsIn.queryExecution.analyzed)) pairsSel
      else pairsSel.localCheckpoint(true)
    // range(neq - 1): the order-last event never claims. A one-row
    // collect of a scalar, not a data-path collect.
    val lastEvid = events.orderBy(col("mag").asc, col("evid").desc).limit(1)
      .select("evid").collect().headOption.map(_.getLong(0)).getOrElse(Long.MinValue)

    var mains = events.select(col("evid")).limit(0).localCheckpoint(true)
    var undecided = events.select(col("evid"), col("mag")).localCheckpoint(true)
    var uCount = undecided.count()
    // The sequential driver finish processes AbwdTailChunks chunks of
    // tailThreshold events each, so distributed rounds only need to
    // shrink the undecided set to the chunk budget — and their static
    // dependency table (the dep3 pairs self-join is its dominant
    // cost) is built only if a round actually runs.
    val chunkBudget =
      if (tailThreshold >= Long.MaxValue / AbwdTailChunks) Long.MaxValue
      else tailThreshold * AbwdTailChunks
    var rounds = 0
    if (uCount > chunkBudget) {

    // Dependency edges e ← d (main(d) must be decided before main(e);
    // every d is order-earlier than e by construction):
    //   dep1 — d is a container of e          (arrival-claim check)
    //   dep2 — d is an order-earlier claimee  (claimee-became-mainshock)
    //   dep3 — d is an order-earlier container of one of e's claimees
    //                                          (claimee-already-claimed)
    val dep1 = pairs.filter(before(col("m_mag"), col("m_evid"), col("mag"), col("evid")))
      .select(col("evid").as("e"), col("m_evid").as("d"))
    val dep2 = pairs.filter(before(col("mag"), col("evid"), col("m_mag"), col("m_evid")))
      .select(col("m_evid").as("e"), col("evid").as("d"))
    val dep3 = pairs.select(col("m_evid").as("e"), col("m_mag").as("e_mag"), col("evid").as("x"))
      .join(pairs.select(col("evid").as("x"), col("m_evid").as("d"), col("m_mag").as("d_mag")),
        Seq("x"))
      .filter(col("d") =!= col("e"))
      .filter(before(col("d_mag"), col("d"), col("e_mag"), col("e")))
      .select("e", "d")
    val deps = dep1.unionByName(dep2).unionByName(dep3).distinct().localCheckpoint(true)

    // fmc: each event's order-FIRST decided-main container (max mag,
    // then min evid). One broadcast-sized row per claimed-or-claimable
    // event, merged incrementally each round from only the NEW mains'
    // claim pairs — this replaces BOTH the old per-round
    // pairs⋈all-mains joins (arrival-claim and claimee-already-claimed
    // checks re-joined the full pair table against the full mains set
    // every round) and the rule-A wave table: "claimed before its own
    // step" ⟺ fmc(e) is order-earlier than e, because the order-first
    // main container IS the claimer.
    var fmc = events.select(col("evid"), col("mag").as("fm_mag"),
      col("evid").as("fm_evid")).limit(0).localCheckpoint(true)
    while (uCount > chunkBudget && rounds < MaxAbwdRounds) {
      rounds += 1
      // Rule A: an event whose first decided-main container is order-
      // earlier was claimed before its own step — main=false is
      // determined regardless of its other unresolved dependencies.
      // The short-circuit makes convergence track cluster structure
      // (each promoted mainshock instantly resolves its claimable
      // window) instead of dependency-chain depth: without it the
      // full-determination rule alone resolves only a few percent of
      // the catalogue per round (measured 45+ rounds at sf0.1). Only
      // mains/undecided/fmc are loop state — non-main decisions exist
      // only as removal from `undecided` (final labeling needs mains
      // alone). The static pairs/deps tables are NOT rewritten per
      // round: every use is a map-side scan with a broadcast probe, a
      // decided row simply stops matching.
      val und2 = undecided.join(fmc, Seq("evid"), "left")
        .filter(col("fm_evid").isNull ||
          !before(col("fm_mag"), col("fm_evid"), col("mag"), col("evid")))
        .select("evid", "mag")
      // Rule B (full determination): events none of whose dependency
      // sources are still undecided evaluate main() exactly.
      val blocked = deps.join(und2.select(col("evid").as("d")), Seq("d"), "left_semi")
        .select(col("e").as("evid"))
      val ready = und2.join(blocked, Seq("evid"), "left_anti").localCheckpoint(true)
      // Ready events passed the fmc filter with all containers decided,
      // so none is arrival-claimed: e is a mainshock iff it has an
      // available claimee x — x not an order-earlier mainshock itself,
      // and x's first main container (if any) not order-earlier than e.
      // The ready events' claim pairs are materialized once and reused
      // for the fmc update below — one pairs scan per round, not two.
      val claimPairs = pairs
        .join(ready.select(col("evid").as("m_evid")), Seq("m_evid"), "left_semi")
        .localCheckpoint(true)
      val availE = claimPairs
        .select(col("m_evid").as("e"), col("m_mag").as("e_mag"),
          col("evid").as("x"), col("mag").as("x_mag"))
        .join(mains.select(col("evid").as("x"), lit(true).as("x_main")), Seq("x"), "left")
        .join(fmc.select(col("evid").as("x"), col("fm_mag").as("xc_mag"),
          col("fm_evid").as("xc_evid")), Seq("x"), "left")
        .filter(!(coalesce(col("x_main"), lit(false)) &&
          before(col("x_mag"), col("x"), col("e_mag"), col("e"))))
        .filter(col("xc_evid").isNull ||
          !before(col("xc_mag"), col("xc_evid"), col("e_mag"), col("e")))
        .select(col("e").as("evid")).distinct()
      val newMains = ready.select("evid")
        .join(availE, Seq("evid"), "left_semi")
        .filter(col("evid") =!= lit(lastEvid))
        .localCheckpoint(true)
      mains = mains.unionByName(newMains).localCheckpoint(true)
      // merge the new mains' claim pairs into fmc (order-first wins)
      val newCand = claimPairs
        .join(newMains.select(col("evid").as("m_evid")), Seq("m_evid"), "left_semi")
        .select(col("evid"), col("m_mag").as("fm_mag"), col("m_evid").as("fm_evid"))
      fmc = fmc.unionByName(newCand)
        .groupBy("evid")
        .agg(max_by(struct(col("fm_mag"), col("fm_evid")),
          struct(col("fm_mag"), -col("fm_evid"))).as("fm"))
        .select(col("evid"), col("fm.fm_mag").as("fm_mag"), col("fm.fm_evid").as("fm_evid"))
        .localCheckpoint(true)
      undecided = und2.join(ready, Seq("evid"), "left_anti").localCheckpoint(true)
      uCount = undecided.count()
    }
    } // deps/fmc scope — rounds only run above the chunk budget
    require(uCount <= chunkBudget,
      s"ABWD greedy did not shrink to the driver tail in $MaxAbwdRounds rounds")
    // Sequential driver finish over the WHOLE residual in ONE fused
    // pass (r18 — was processing-order chunks of tailThreshold events,
    // 2 collect jobs per chunk plus a rank+checkpoint pass; at sf0.1
    // the 2-chunk tail collected each pair row up to twice and paid 6+
    // job round trips). Chunk boundaries never had semantic content —
    // the in-order driver pass consults only order-earlier bits (in
    // `mains` via distributed flag joins, or decided earlier in this
    // pass via tailSet) — so one pass over the residual decides
    // identically (the chunk-boundary spec pins this). The driver
    // bound is STILL a constant at any catalogue size: the rounds loop
    // above only hands the tail a residual ≤ tailThreshold ×
    // AbwdTailChunks events, so collected state is bounded by
    // chunkBudget × window occupancy pair rows — never
    // catalogue-sized; the full mains set never reaches the driver
    // (membership bits are joined distributed).
    val sp = events.sparkSession
    import sp.implicits._
    val (tailIds, uRows, inU) =
      abwdDriverTail(undecided, uCount, pairs, mains, lastEvid)
    val allMains =
      if (tailIds.isEmpty) mains else mains.unionByName(tailIds.toDF("evid"))
    // The residual's OUTPUT rows were fully resolved on the driver
    // (the tail pass already held every container it needed), so
    // the residual contributes a bounded local relation; only the
    // rounds-decided remainder needs the distributed claim agg —
    // at gate scale, where the tail covers the whole catalogue,
    // that leg is empty and costs one filtered pass (with no
    // residual, the pure-rounds tailThreshold=0 spec variant, the
    // local relation is empty and the filters fold away). Residual
    // membership tests ride ONE broadcast hash set (`inU`) instead
    // of per-use local-relation broadcast joins (measured ~0.5 s
    // per 150k-row local broadcast at sf0.1).
    val uOut = uRows.toDF("evid", "cluster_evid", "is_aftershock")
    val claims = pairs
      .filter(!inU(col("evid")))
      .join(allMains.select(col("evid").as("m_evid")), Seq("m_evid"), "left_semi")
      .join(allMains, Seq("evid"), "left_anti")
      .groupBy(col("evid"))
      .agg(max_by(col("m_evid"), struct(col("m_mag"), -col("m_evid")))
        .as("cluster_evid"))
      .select(col("evid"), col("cluster_evid"), lit(true).as("is_aftershock"))
    val rest = events.select("evid").filter(!inU(col("evid")))
      .join(claims, Seq("evid"), "left")
      .join(allMains.withColumn("m", lit(true)), Seq("evid"), "left")
      .select(col("evid"),
        when(col("m"), col("evid")).otherwise(col("cluster_evid")).as("cluster_evid"),
        coalesce(col("is_aftershock"), lit(false)).as("is_aftershock"))
    uOut.unionByName(rest)
  }

  /** Driver-tail CHUNK size for [[abwdLabel]]'s sequential finish. A
    * CONSTANT, so each driver collect stays bounded at any catalogue
    * size: the collected state is O(threshold × window occupancy)
    * pair rows (~100 MB heap at 100k×~7) per chunk regardless of
    * catalogue size or how many distributed rounds preceded it.
    * Sized by the r13 profile: per-chunk job latency (two collects)
    * is the tail's dominant cost once the pair table is cached, and
    * 100k chunks measured faster than both 50k (more fixed job cost)
    * and 150k (bigger driver hash maps buy nothing) at sf0.1. */
  val AbwdTailThreshold = 100000L

  /** How many sequential chunks the driver finish may take directly —
    * i.e. distributed rounds only run while the undecided set exceeds
    * `AbwdTailThreshold × AbwdTailChunks`. Profiled at sf0.1 (150k
    * events, 969k pairs): a distributed round costs ~4.5 s (three
    * ~1M-row static scans + 5 checkpoint jobs) and decides a
    * SHRINKING fraction (150k→146k→99k→68k→45k over 4 rounds = 18.6 s,
    * plus the 6.7 s dep3 pairs self-join the rounds need), while one
    * in-order driver chunk pass costs ~1-2 s including its bounded
    * collects — so a small multiple of the chunk size is the
    * crossover. At catalogue densities where the undecided set dwarfs
    * the budget, rounds still shrink it multiplicatively first; the
    * driver bound is unchanged (per-chunk, not total). */
  val AbwdTailChunks = 4L

  /** The in-order sequential finish of the ABWD greedy over the
    * residual `undecided` set. Exact by the same argument as the
    * batched loop: processing order (mag DESC, evid ASC) means every
    * main() bit a tail event consults belongs to an order-earlier
    * event — either already decided (flagged via joins against
    * `mains` before collecting) or an earlier tail event this pass
    * has just decided.
    *
    * r18 shape: TWO collect jobs total (the residual ids, then ONE
    * pass over the relevant pair rows), down from 2 per 100k-chunk
    * plus a rank/checkpoint pass. A pair row (x, m) is "relevant" when
    * x ∈ U (arrival-claim containers), m ∈ U (claim candidates), or
    * x is a claimee of some U-event (claimee-already-claimed
    * containers) — one broadcast-semi pass derives the claimee ids,
    * one more filters, so collected rows stay O(residual × window
    * occupancy) at any catalogue size. BOTH driver lookup maps
    * (containers-of-id, claimees-of-id) are built from the ONE
    * collected row set — the old tagged-union collected the heavily
    * overlapping container/claimee projections as separate row sets,
    * twice the bytes and twice the join work. Rows cross as
    * UnsafeRows (`toRdd` + copy) — the generic Row conversion was
    * measured at ~2× the collect decode cost on ~2M-row sets.
    *
    * Returns (tail events that became mains, driver-resolved output
    * rows for the residual events, the residual-membership predicate)
    * — the containers needed to resolve each residual event's
    * order-first main container are exactly the rows already
    * collected, so the final claim agg for U-events is a free driver
    * pass instead of a second distributed aggregation. An empty
    * residual (`uCount == 0`) returns at once, without a job. */
  private def abwdDriverTail(undecided: DataFrame, uCount: Long, pairs: DataFrame,
                             mains: DataFrame, lastEvid: Long)
      : (Seq[Long], Seq[(Long, Option[Long], Boolean)], Column => Column) = {
    if (uCount == 0) return (Nil, Nil, _ => lit(false))
    val sp = pairs.sparkSession
    def beforeL(aMag: Double, aEvid: Long, bMag: Double, bEvid: Long): Boolean =
      aMag > bMag || (aMag == bMag && aEvid < bEvid)
    val u = undecided.select("evid", "mag").queryExecution.toRdd
      .map(_.copy()).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val uSet = new java.util.HashSet[Long](u.length * 2)
    u.foreach(t => uSet.add(t._1))
    // ONE broadcast hash set carries residual membership to every
    // distributed filter — a 150k-id LOCAL-RELATION broadcast join was
    // measured at ~0.5 s per use (driver-side row conversion + hash
    // relation build), and the old tail used four of them per chunk
    val uSetB = sp.sparkContext.broadcast(uSet)
    val inUdf = udf((id: Long) => uSetB.value.contains(id))
    val inU = (c: Column) => inUdf(c)
    // Relevant pair rows, wave 1: x ∈ U (arrival-claim containers,
    // and ALL of them — contOf must be complete for e∈U) or m ∈ U
    // (claim candidates; also yields the claimee id set X on the
    // driver for free). The mains flags ride two left joins — `mains`
    // is a bounded distributed table, never collected.
    def flagged(base: DataFrame): DataFrame = base
      .join(mains.select(col("evid"), lit(true).as("x_main")), Seq("evid"), "left")
      .join(mains.select(col("evid").as("m_evid"), lit(true).as("m_main")),
        Seq("m_evid"), "left")
      .select(col("evid"), col("mag"), col("m_evid"), col("m_mag"),
        coalesce(col("x_main"), lit(false)).as("x_main"),
        coalesce(col("m_main"), lit(false)).as("m_main"))
    val wave1 = flagged(pairs.filter(inU(col("evid")) || inU(col("m_evid"))))
      .queryExecution.toRdd.map(_.copy()).collect()
    // both lookup maps from the one collected row set
    final class Ent(val id: Long, val mag: Double, val main: Boolean)
    def newMap = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Ent]]()
    val contOf = newMap // x → its containers (m, m_mag, m decided-main)
    val claimeesOf = newMap // m∈U → its claimees (x, mag, x decided-main)
    def add(m: java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Ent]],
            k: Long, e: Ent): Unit = {
      var buf = m.get(k)
      if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty; m.put(k, buf) }
      buf += e
    }
    val xOutside = new java.util.HashSet[Long]()
    def ingest(rows: Array[org.apache.spark.sql.catalyst.InternalRow],
               trackX: Boolean): Unit =
      for (r <- rows) {
        val x = r.getLong(0); val xMag = r.getDouble(1)
        val m = r.getLong(2); val mMag = r.getDouble(3)
        val xMain = r.getBoolean(4); val mMain = r.getBoolean(5)
        // wave 1 defers x∉U container entries to wave 2 (which
        // re-reads ALL of an outside-claimee's container rows), so
        // nothing is ingested twice; claimee entries come from wave 1
        // alone (wave-2 rows with m∈U would repeat them)
        if (uSet.contains(x) || !trackX) add(contOf, x, new Ent(m, mMag, mMain))
        if (trackX && uSet.contains(m)) {
          add(claimeesOf, m, new Ent(x, xMag, xMain))
          if (!uSet.contains(x)) xOutside.add(x)
        }
      }
    ingest(wave1, trackX = true)
    // wave 2 — containers of claimees OUTSIDE the residual (the
    // claimee-already-claimed check needs them): usually empty when
    // the tail covers the whole undecided set; bounded by the wave-1
    // claimee count either way
    if (!xOutside.isEmpty) {
      val xB = sp.sparkContext.broadcast(xOutside)
      val inX = udf((id: Long) => xB.value.contains(id))
      val wave2 = flagged(pairs.filter(inX(col("evid"))))
        .queryExecution.toRdd.map(_.copy()).collect()
      xB.destroy()
      ingest(wave2, trackX = false)
    }
    val tailSet = new java.util.HashSet[Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val empty = scala.collection.mutable.ArrayBuffer.empty[Ent]
    def get(m: java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Ent]],
            k: Long) = { val v = m.get(k); if (v == null) empty else v }
    for ((e, eMag) <- u.sortBy { case (evid, mag) => (-mag, evid) }) {
      val arrClaimed = get(contOf, e).exists { c =>
        beforeL(c.mag, c.id, eMag, e) && (c.main || tailSet.contains(c.id))
      }
      if (!arrClaimed && e != lastEvid) {
        val canClaim = get(claimeesOf, e).exists { x =>
          val xEarlierMain =
            (x.main || tailSet.contains(x.id)) && beforeL(x.mag, x.id, eMag, e)
          lazy val xClaimedEarlier = get(contOf, x.id).exists { mc =>
            beforeL(mc.mag, mc.id, eMag, e) && (mc.main || tailSet.contains(mc.id))
          }
          !xEarlierMain && !xClaimedEarlier
        }
        if (canClaim) { tailSet.add(e); out += e }
      }
    }
    // driver OUTPUT rows for the whole residual: tail mains label
    // themselves (flag false, like every mainshock); each non-main
    // e∈U with ≥1 decided-main container gets its order-first main
    // container — max (m_mag, −m_evid), the exact distributed max_by
    // rule (contOf is COMPLETE for e∈U: every (e, m) row passed the
    // x∈U wave-1 leg); barren events keep a NULL cluster. This is the
    // same answer the distributed claim agg would give, computed from
    // rows the tail had already collected.
    val uRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], Boolean)]
    for ((e, _) <- u) {
      if (tailSet.contains(e)) uRows += ((e, Some(e), false))
      else {
        var best: Ent = null
        for (c <- get(contOf, e) if c.main || tailSet.contains(c.id)) {
          if (best == null || c.mag > best.mag ||
              (c.mag == best.mag && c.id < best.id)) best = c
        }
        uRows += ((e, Option(best).map(_.id), best != null))
      }
    }
    (out.toSeq, uRows.toSeq, inU)
  }

  /** Decimal year of an epoch-microseconds column (`aftershocks.py:117
    * decimal_year`; golden values in `tests/test_aftershocks.py:129`). */
  def decimalYearCol(us: Column): Column = {
    val ts = timestamp_micros(us)
    val y = year(ts)
    val yStart = unix_micros(make_timestamp(y, lit(1), lit(1), lit(0), lit(0), lit(0)))
    val yNext  = unix_micros(make_timestamp(y + 1, lit(1), lit(1), lit(0), lit(0), lit(0)))
    y.cast("double") + (us - yStart).cast("double") / (yNext - yStart).cast("double")
  }

  def decimalYear(s: SparkSession, d: String): DataFrame =
    Catalog.events(s, d).select(col("evid"), col("ev_us"),
      decimalYearCol(col("ev_us")).as("dec_year"))

  val queries: Map[String, QueryFn] = Map(
    "event_station_distances" -> (eventStationDistances _),
    // rows-only at the gate: trig is not bit-portable cross-engine;
    // values are checked by the driver-side recompute test.
    "event_station_distances_geo" -> (eventStationDistancesGeo _),
    "rrup_distances"          -> (rrupDistances _),
    // rows-only at the gate (trig rotations), recompute-tested.
    "rrup_distances_geo"      -> (rrupDistancesGeo _),
    "ccld_vertices"           -> (ccldVertices _),
    "tect_domain"             -> (tectDomain _),
    "tvz_path"                -> (tvzPath _),
    "propagation_table"       -> (propagationTable _),
    "site_basin"              -> (siteBasin _),
    "eq_source_table"         -> (eqSourceTable _),
    "aftershock_flags"        -> (aftershockFlags _),
    "aftershock_mainshock"    -> (aftershockMainshock _),
    // no SQL oracle: the greedy is a driver loop, not a single query —
    // the driver records a rows-only check; semantics are unit-tested
    // against hand-computed sequential-greedy fixtures.
    "aftershock_clusters"     -> (aftershockClusters _),
    "decimal_year"            -> (decimalYear _)
  )

  // ---- SQL twins -------------------------------------------------

  /** Piecewise window lookups keyed on the mainshock magnitude class. */
  private val tWinSql: String =
    magClasses.map { case (cls, tUs, _, _, _) => s"WHEN floor(m.mag) = $cls THEN $tUs" }
      .mkString("(CASE ", " ", " END)")
  private val dWinSql: String =
    magClasses.map { case (cls, _, dKm, _, _) => s"WHEN floor(m.mag) = $cls THEN ${dKm}e0" }
      .mkString("(CASE ", " ", " END)")

  private def insideQuadSql(verts: Seq[(Double, Double)], px: String, py: String): String =
    verts.indices.map { i =>
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      s"(${x2 - x1}e0 * ($py - ${y1}e0) - ${y2 - y1}e0 * ($px - ${x1}e0)) >= 0"
    }.mkString("(", " AND ", ")")

  /** Shared oracle bodies: the propagation-table oracle composes the
    * same SQL as the standalone distance oracles (CTE-wrapped), so
    * the texts live once. */
  private[operators] val esdOracleBody: String =
    s"""SELECT e.evid, s.sta,
         |  sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |     + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0)) AS r_epi,
         |  sqrt(sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |     + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0))
         |     * sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |     + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0))
         |     + e.ev_depth * e.ev_depth) AS r_hyp,
         |  CASE
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 >= 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 >= 0
         |         AND abs((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) >= abs((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) THEN 0
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 >= 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 >= 0 THEN 1
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 < 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 >= 0
         |         AND abs((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) < abs((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) THEN 2
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 < 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 >= 0 THEN 3
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 < 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 < 0
         |         AND abs((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) >= abs((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) THEN 4
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 < 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 < 0 THEN 5
         |    WHEN (s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0 >= 0 AND (s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0 < 0
         |         AND abs((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) < abs((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) THEN 6
         |    ELSE 7 END AS az_oct
         |FROM gm_events e JOIN gm_stations s
         |  ON sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |        + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0)) <= ${MaxKm}e0""".stripMargin

  private val tvzOracleBody: String = {
    val verts = domains.find(_._2 == "TVZ").get._3
    def edgeFSql(i: Int, px: String, py: String): String = {
      val (x1, y1) = verts(i)
      val (x2, y2) = verts((i + 1) % verts.size)
      s"(${x2 - x1}e0 * ($py - ${y1}e0) - ${y2 - y1}e0 * ($px - ${x1}e0))"
    }
    val n = verts.indices
    val repi =
      s"""sqrt(((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0) * ((s.sta_lon - e.ev_lon) * ${KmPerDegLon}e0)
         |   + ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0) * ((s.sta_lat - e.ev_lat) * ${KmPerDegLat}e0))""".stripMargin
    s"""SELECT evid, sta,
       |  CASE WHEN crossed THEN t_hi - t_lo ELSE 0e0 END AS tvz_length,
       |  CASE WHEN crossed THEN (1e0 - t_hi) * r_epi ELSE NULL END AS boundary_dist
       |FROM (
       |  SELECT *, (NOT degenerate) AND t_lo < t_hi AS crossed FROM (
       |    SELECT *,
       |      greatest(0e0, ${n.map(i => s"CASE WHEN fb$i > 0 THEN -fa$i / fb$i ELSE 0e0 END").mkString(", ")}) AS t_lo,
       |      least(1e0, ${n.map(i => s"CASE WHEN fb$i < 0 THEN -fa$i / fb$i ELSE 1e0 END").mkString(", ")}) AS t_hi,
       |      (${n.map(i => s"(fb$i = 0 AND fa$i < 0)").mkString(" OR ")}) AS degenerate
       |    FROM (
       |      SELECT *, ${n.map(i => s"fs$i - fa$i AS fb$i").mkString(", ")} FROM (
       |        SELECT e.evid, s.sta, $repi AS r_epi,
       |          ${n.map(i => s"${edgeFSql(i, "e.ev_lon", "e.ev_lat")} AS fa$i").mkString(",\n          ")},
       |          ${n.map(i => s"${edgeFSql(i, "s.sta_lon", "s.sta_lat")} AS fs$i").mkString(",\n          ")}
       |        FROM gm_events e JOIN gm_stations s ON $repi <= ${MaxKm}e0
       |      )
       |    )
       |  )
       |)""".stripMargin
  }

  /** The propagation table's rupture columns — the rrup oracle plus the
    * r_x / r_y strike coordinates, same association order as the Columns. */
  private val rupxOracleBody: String =
    s"""SELECT evid, sta, r_jb, sqrt(r_jb * r_jb + ztop * ztop) AS r_rup,
       |  (sta_lat - (lat1 + lat2) / 2) * ${KmPerDegLat}e0 AS r_x,
       |  greatest(0e0, abs((sta_lon - (lon1 + lon2) / 2) * ${KmPerDegLon}e0)
       |    - (lon2 - lon1) / 2 * ${KmPerDegLon}e0) AS r_y
       |FROM (
       |  SELECT p.evid, s.sta, p.ztop, p.lat1, p.lat2, p.lon1, p.lon2, s.sta_lat, s.sta_lon,
       |    sqrt(((s.sta_lon - greatest(p.lon1, least(p.lon2, s.sta_lon))) * ${KmPerDegLon}e0)
       |       * ((s.sta_lon - greatest(p.lon1, least(p.lon2, s.sta_lon))) * ${KmPerDegLon}e0)
       |       + ((s.sta_lat - greatest(p.lat1, least(p.lat2, s.sta_lat))) * ${KmPerDegLat}e0)
       |       * ((s.sta_lat - greatest(p.lat1, least(p.lat2, s.sta_lat))) * ${KmPerDegLat}e0)) AS r_jb
       |  FROM gm_stations s, (
       |    SELECT evid, ev_lat - floor(mag) * 5e-2 AS lat1, ev_lat + floor(mag) * 5e-2 AS lat2,
       |           ev_lon - floor(mag) * 5e-2 AS lon1, ev_lon + floor(mag) * 5e-2 AS lon2,
       |           ev_depth * 5e-1 AS ztop
       |    FROM gm_events WHERE mag >= ${RupMagMin}e0) p
       |) WHERE r_jb <= ${MaxKm}e0""".stripMargin

  val oracles: Map[String, String] = Map(
    "event_station_distances" -> Catalog.oracle(esdOracleBody),
    "propagation_table" -> Catalog.oracle(
      s"""SELECT evid, sta, r_epi, r_hyp, r_jb, r_rup, r_x, r_y,
         |  tvz_length AS r_tvz, boundary_dist AS r_xvf,
         |  az_oct, (az_oct + 4) % 8 AS b_az_oct
         |FROM esd LEFT JOIN rupx USING (evid, sta) LEFT JOIN tvz USING (evid, sta)""".stripMargin,
      s"esd AS (\n$esdOracleBody\n)",
      s"rupx AS (\n$rupxOracleBody\n)",
      s"tvz AS (\n$tvzOracleBody\n)"),
    "site_basin" -> Catalog.oracle(
      s"""SELECT sta, sta_lat, sta_lon, sta_vs30,
         |  CASE ${basins.reverse.map { case (name, verts) =>
               s"WHEN ${insideQuadSql(verts, "sta_lon", "sta_lat")} THEN '$name'"
             }.mkString("\n       ")}
         |       ELSE NULL END AS basin
         |FROM gm_stations""".stripMargin),
    "eq_source_table" -> Catalog.oracle(
      s"""SELECT e.evid, e.ev_us, e.ev_lat AS lat, e.ev_lon AS lon, e.ev_depth AS depth, e.mag,
         |  CASE WHEN CAST(e.evid % 361 AS DOUBLE) = 360e0 THEN 0e0
         |       ELSE CAST(e.evid % 361 AS DOUBLE) END AS strike,
         |  CAST(e.evid % 90 AS DOUBLE) + 1e0 AS dip,
         |  CASE WHEN CAST(e.evid % 360 AS DOUBLE) > 180e0 THEN CAST(e.evid % 360 AS DOUBLE) - 360e0
         |       ELSE CAST(e.evid % 360 AS DOUBLE) END AS rake,
         |  CASE ${domains.sortBy(_._1).map { case (_, name, verts) =>
               s"WHEN ${insideQuadSql(verts, "e.ev_lon", "e.ev_lat")} THEN '$name'"
             }.mkString("\n       ")}
         |       ELSE 'Oceanic' END AS domain,
         |  CAST(year(make_timestamp(e.ev_us)) AS DOUBLE) +
         |  CAST(e.ev_us - epoch_us(make_timestamp(year(make_timestamp(e.ev_us)), 1, 1, 0, 0, 0)) AS DOUBLE) /
         |  CAST(epoch_us(make_timestamp(year(make_timestamp(e.ev_us)) + 1, 1, 1, 0, 0, 0))
         |     - epoch_us(make_timestamp(year(make_timestamp(e.ev_us)), 1, 1, 0, 0, 0)) AS DOUBLE) AS dec_year,
         |  r.n_records
         |FROM gm_events e JOIN (
         |  SELECT evid, count(*) AS n_records FROM gm_records GROUP BY evid) r USING (evid)""".stripMargin),
    "rrup_distances" -> Catalog.oracle(
      s"""SELECT evid, sta, r_jb, sqrt(r_jb * r_jb + ztop * ztop) AS r_rup FROM (
         |  SELECT p.evid, s.sta, p.ztop,
         |    sqrt(((s.sta_lon - greatest(p.lon1, least(p.lon2, s.sta_lon))) * ${KmPerDegLon}e0)
         |       * ((s.sta_lon - greatest(p.lon1, least(p.lon2, s.sta_lon))) * ${KmPerDegLon}e0)
         |       + ((s.sta_lat - greatest(p.lat1, least(p.lat2, s.sta_lat))) * ${KmPerDegLat}e0)
         |       * ((s.sta_lat - greatest(p.lat1, least(p.lat2, s.sta_lat))) * ${KmPerDegLat}e0)) AS r_jb
         |  FROM gm_stations s, (
         |    SELECT evid, ev_lat - floor(mag) * 5e-2 AS lat1, ev_lat + floor(mag) * 5e-2 AS lat2,
         |           ev_lon - floor(mag) * 5e-2 AS lon1, ev_lon + floor(mag) * 5e-2 AS lon2,
         |           ev_depth * 5e-1 AS ztop
         |    FROM gm_events WHERE mag >= ${RupMagMin}e0) p
         |) WHERE r_jb <= ${MaxKm}e0""".stripMargin),
    "tvz_path" -> Catalog.oracle(tvzOracleBody),
    "tect_domain" -> Catalog.oracle(
      s"""SELECT evid, ev_lat, ev_lon,
         |  CASE ${domains.sortBy(_._1).map { case (_, name, verts) =>
               s"WHEN ${insideQuadSql(verts, "ev_lon", "ev_lat")} THEN '$name'"
             }.mkString("\n       ")}
         |       ELSE 'Oceanic' END AS domain
         |FROM gm_events""".stripMargin),
    "aftershock_flags" -> Catalog.oracle(
      s"""SELECT e.evid, e.mag, coalesce(a.f, FALSE) AS is_aftershock
         |FROM gm_events e LEFT JOIN (
         |  SELECT DISTINCT s.evid, TRUE AS f
         |  FROM gm_events s JOIN gm_events m
         |    ON m.evid <> s.evid
         |   AND m.mag >= s.mag + ${MagGapMin}e0
         |   AND abs(s.ev_us - m.ev_us) <= $tWinSql
         |   AND sqrt(((m.ev_lon - s.ev_lon) * ${KmPerDegLon}e0) * ((m.ev_lon - s.ev_lon) * ${KmPerDegLon}e0)
         |          + ((m.ev_lat - s.ev_lat) * ${KmPerDegLat}e0) * ((m.ev_lat - s.ev_lat) * ${KmPerDegLat}e0))
         |       <= $dWinSql
         |) a ON e.evid = a.evid""".stripMargin),
    "aftershock_mainshock" -> Catalog.oracle(
      s"""SELECT evid, mag, main_evid, main_mag FROM (
         |  SELECT s.evid, s.mag, m.evid AS main_evid, m.mag AS main_mag,
         |         row_number() OVER (PARTITION BY s.evid ORDER BY m.mag DESC, m.evid) AS rn
         |  FROM gm_events s JOIN gm_events m
         |    ON m.evid <> s.evid
         |   AND m.mag >= s.mag + ${MagGapMin}e0
         |   AND abs(s.ev_us - m.ev_us) <= $tWinSql
         |   AND sqrt(((m.ev_lon - s.ev_lon) * ${KmPerDegLon}e0) * ((m.ev_lon - s.ev_lon) * ${KmPerDegLon}e0)
         |          + ((m.ev_lat - s.ev_lat) * ${KmPerDegLat}e0) * ((m.ev_lat - s.ev_lat) * ${KmPerDegLat}e0))
         |       <= $dWinSql
         |) WHERE rn = 1""".stripMargin),
    "decimal_year" -> Catalog.oracle(
      """SELECT evid, ev_us,
        |  CAST(year(make_timestamp(ev_us)) AS DOUBLE) +
        |  CAST(ev_us - epoch_us(make_timestamp(year(make_timestamp(ev_us)), 1, 1, 0, 0, 0)) AS DOUBLE) /
        |  CAST(epoch_us(make_timestamp(year(make_timestamp(ev_us)) + 1, 1, 1, 0, 0, 0))
        |     - epoch_us(make_timestamp(year(make_timestamp(ev_us)), 1, 1, 0, 0, 0)) AS DOUBLE) AS dec_year
        |FROM gm_events""".stripMargin)
  )
}
