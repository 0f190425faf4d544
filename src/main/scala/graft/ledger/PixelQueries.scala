package graft
package ledger

import graft.core.Tables
import graft.core.grid.LatLngGrid
import graft.functions.Calc
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pixel and feature queries: calc and cast, rasterize and zonal
  * aggregates, the catalog and band joins, filters and ordering. */
private[graft] object PixelQueries {
  import Common._

  val all: Seq[QueryDef] = Seq(
    /** P5 as a LEDGER row — the registry's forward transforms for the
      * spherical closed-form families (WebMercator, world sinusoidal,
      * plate-carrée eqc, orthographic incl. its horizon-rim clamp),
      * applied to every grid tile center through the real
      * [[graft.functions.Projection.forCrs]] dispatch (EPSG, ESRI and
      * proj-string authorities all exercised). Rounded to dm: Java Math
      * and DuckDB libm agree to a few ulps (≤ ~2e-7 m at the worst
      * high-latitude Mercator y), six orders below the compare precision.
      * The ellipsoidal families (TM, LCC, AEA, stere) stay spec-pinned
      * via Snyder worked examples — their series have no one-line SQL
      * replay. Ref: `gfw_pixetl/sources.py:137-168` (pyproj transform). */
    QueryDef("p5_reproject") { (s, d) =>
      import graft.functions.Projection
      val crss = Seq("EPSG:3857", "ESRI:54008", "EPSG:32662",
        "+proj=ortho +lat_0=0 +lon_0=0 +a=6378137")
      val fwd = udf { (crs: String, lng: Double, lat: Double) =>
        val (x, y) = Projection.forCrs(crs).get.forward(lng, lat)
        (x, y)
      }
      LatLngGrid(10, 40000).tilesDF(s)
        .select(col("tile_id"),
          ((col("left") + col("right")) / 2).as("lng"),
          ((col("bottom") + col("top")) / 2).as("lat"))
        .withColumn("crs", explode(array(crss.map(lit): _*)))
        .withColumn("__p", fwd(col("crs"), col("lng"), col("lat")))
        .select(col("tile_id"), col("crs"),
          round(col("__p._1"), 1).as("x"), round(col("__p._2"), 1).as("y"))
        .orderBy("tile_id", "crs")
    } {
      // the four spherical forward transforms in closed form (Snyder §12,
      // §20, §21, §30); ortho replays the horizon-rim clamp for far-
      // hemisphere points; dm rounding absorbs libm ulp differences
      """WITH t AS (
        |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |     || '_' ||
        |     CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |    CAST(c*10 - 175 AS DOUBLE) AS lng, CAST(85 - r*10 AS DOUBLE) AS lat
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |proj AS (
        |  SELECT tile_id, 'EPSG:3857' AS crs,
        |      lng * 20037508.342789244 / 180.0 AS x,
        |      6378137.0 * ln(tan(pi()/4 + radians(lat)/2)) AS y FROM t
        |  UNION ALL
        |  SELECT tile_id, 'ESRI:54008',
        |      6378137.0 * radians(lng) * cos(radians(lat)),
        |      6378137.0 * radians(lat) FROM t
        |  UNION ALL
        |  SELECT tile_id, 'EPSG:32662',
        |      6378137.0 * radians(lng), 6378137.0 * radians(lat) FROM t
        |  UNION ALL
        |  SELECT tile_id, '+proj=ortho +lat_0=0 +lon_0=0 +a=6378137',
        |      CASE WHEN cos(radians(lat)) * cos(radians(lng)) >= 0 THEN xo
        |           ELSE xo * 6378137.0 / sqrt(xo*xo + yo*yo) END,
        |      CASE WHEN cos(radians(lat)) * cos(radians(lng)) >= 0 THEN yo
        |           ELSE yo * 6378137.0 / sqrt(xo*xo + yo*yo) END
        |    FROM (SELECT tile_id, lng, lat,
        |        6378137.0 * cos(radians(lat)) * sin(radians(lng)) AS xo,
        |        6378137.0 * sin(radians(lat)) AS yo FROM t))
        |SELECT tile_id, crs, round(x, 1) AS x, round(y, 1) AS y
        |FROM proj ORDER BY tile_id, crs""".stripMargin
    },

    /** P5's ELLIPSOIDAL leg as a LEDGER row — every grid tile center
      * forward-projected into its canonical UTM zone through the EPSG
      * registry dispatch (`forEpsg(326xx/327xx)` — the WGS84 ellipsoidal
      * Transverse Mercator series, Snyder §8, exercising all 120 zone
      * codes' parameterization). The oracle transcribes the SAME series
      * term-for-term with identical association, so the only cross-engine
      * divergence is libm ulps (~1e-9 m) — six orders below the mm
      * rounding. The polar clamp (±84°) replays in SQL. */
    QueryDef("p5_utm_grid") { (s, d) =>
      import graft.functions.Projection
      val fwd = udf { (lng: Double, lat: Double) =>
        val zone = math.min(60, (math.floor((lng + 180) / 6) + 1).toInt)
        val epsg = (if (lat >= 0) 32600 else 32700) + zone
        val (x, y) = Projection.forEpsg(epsg).get.forward(lng, lat)
        (zone, x, y)
      }
      LatLngGrid(10, 40000).tilesDF(s)
        .select(col("tile_id"),
          ((col("left") + col("right")) / 2).as("lng"),
          ((col("bottom") + col("top")) / 2).as("lat"))
        .withColumn("__u", fwd(col("lng"), col("lat")))
        .select(col("tile_id"), col("__u._1").as("zone"),
          round(col("__u._2"), 3).as("easting"),
          round(col("__u._3"), 3).as("northing"))
        .orderBy("tile_id")
    } {
      // the ellipsoidal UTM forward series (Snyder §8) transcribed with
      // the implementation's exact association, so doubles match to libm
      // ulps; zone choice, hemisphere false northing, and the ±84° polar
      // clamp all replay
      """WITH t AS (
        |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |     || '_' ||
        |     CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |    CAST(c*10 - 175 AS DOUBLE) AS lng, CAST(85 - r*10 AS DOUBLE) AS lat
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |z AS (SELECT tile_id, lng, lat,
        |    CAST(least(60, floor((lng + 180) / 6) + 1) AS INT) AS zone FROM t),
        |e AS (SELECT *,
        |    (1.0/298.257223563) * (2 - (1.0/298.257223563)) AS e2,
        |    radians(greatest(-84.0, least(84.0, lat))) AS phi,
        |    radians(lng) - radians(CAST(zone*6 - 183 AS DOUBLE)) AS d FROM z),
        |e1 AS (SELECT *, e2*e2 AS e4, e2*e2*e2 AS e6, e2/(1 - e2) AS ep2,
        |    sin(phi) AS sinp, cos(phi) AS cosp, tan(phi) AS tanp FROM e),
        |e2t AS (SELECT *,
        |    6378137.0 / sqrt(1 - e2*sinp*sinp) AS n,
        |    tanp*tanp AS tt, ep2*cosp*cosp AS cc, cosp*d AS biga,
        |    6378137.0 * ((1 - e2/4 - 3*e4/64 - 5*e6/256)*phi
        |      - (3*e2/8 + 3*e4/32 + 45*e6/1024)*sin(2*phi)
        |      + (15*e4/256 + 45*e6/1024)*sin(4*phi)
        |      - (35*e6/3072)*sin(6*phi)) AS arc FROM e1),
        |res AS (SELECT tile_id, zone,
        |    500000.0 + 0.9996*n*(biga
        |      + (1 - tt + cc)*pow(biga, 3)/6
        |      + (5 - 18*tt + tt*tt + 72*cc - 58*ep2)*pow(biga, 5)/120) AS easting,
        |    (CASE WHEN lat >= 0 THEN 0.0 ELSE 10000000.0 END)
        |      + 0.9996*(arc + n*tanp*(biga*biga/2
        |        + (5 - tt + 9*cc + 4*cc*cc)*pow(biga, 4)/24
        |        + (61 - 58*tt + tt*tt + 600*cc - 330*ep2)*pow(biga, 6)/720)) AS northing
        |  FROM e2t)
        |SELECT tile_id, zone, round(easting, 3) AS easting,
        |  round(northing, 3) AS northing
        |FROM res ORDER BY tile_id""".stripMargin
    },

    /** P5's CONIC + POLAR ellipsoidal legs as a LEDGER row — grid tile
      * centers inside each projection's working domain forward-projected
      * through the registry: Albers equal-area CONUS (EPSG:5070, Snyder
      * §14), Lambert conformal conic 2SP Lambert-93 (EPSG:2154, §15), and
      * Antarctic polar stereographic variant B (EPSG:3031, §21). Same
      * discipline as p5_utm_grid: the oracle transcribes each series
      * term-for-term with identical association, so divergence is libm
      * ulps, six orders below the mm rounding. With this row every
      * registry projection family is value-checked. */
    QueryDef("p5_conic_polar") { (s, d) =>
      import graft.functions.Projection
      val fwd = udf { (epsg: Int, lng: Double, lat: Double) =>
        val (x, y) = Projection.forEpsg(epsg).get.forward(lng, lat)
        (x, y)
      }
      val centers = LatLngGrid(10, 40000).tilesDF(s)
        .select(col("tile_id"),
          ((col("left") + col("right")) / 2).as("lng"),
          ((col("bottom") + col("top")) / 2).as("lat"))
      val legs = Seq(
        (5070, col("lng").between(-125, -65) && col("lat").between(15, 55)),
        (2154, col("lng").between(-5, 15) && col("lat").between(35, 55)),
        (3031, col("lat") <= -55))
      legs.map { case (epsg, dom) =>
        centers.filter(dom)
          .withColumn("epsg", lit(epsg))
          .withColumn("__p", fwd(col("epsg"), col("lng"), col("lat")))
          .select(col("tile_id"), col("epsg"),
            round(col("__p._1"), 3).as("x"), round(col("__p._2"), 3).as("y"))
      }.reduce(_ union _).orderBy("tile_id", "epsg")
    } {
      // conic + polar ellipsoidal forwards (Snyder §14/§15/§21) transcribed
      // with the implementation's exact association (q/m/tConf auxiliaries
      // expanded inline — recomputing sin(phi) is bitwise identical to
      // Scala's let-bound reuse); domains match the Spark filters
      // Snyder auxiliaries over a free `phi` SQL expression; e/e2 come
      // from the surrounding SELECT scope
      def qS(phi: String) =
        s"((1 - e2) * (sin($phi) / (1 - e2 * sin($phi) * sin($phi)) - (1 / (2 * e)) * ln((1 - e * sin($phi)) / (1 + e * sin($phi)))))"
      def mS(phi: String) =
        s"(cos($phi) / sqrt(1 - e2 * sin($phi) * sin($phi)))"
      def tS(phi: String) =
        s"(tan(pi() / 4 - $phi / 2) / pow((1 - e * sin($phi)) / (1 + e * sin($phi)), e / 2))"
      val grs80 = "(1.0/298.257222101) * (2 - (1.0/298.257222101))"
      val wgs84 = "(1.0/298.257223563) * (2 - (1.0/298.257223563))"
      s"""WITH t AS (
         |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
         |     || '_' ||
         |     CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
         |    CAST(c*10 - 175 AS DOUBLE) AS lng, CAST(85 - r*10 AS DOUBLE) AS lat
         |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
         |aea0 AS (SELECT tile_id, lng, lat, $grs80 AS e2, sqrt($grs80) AS e,
         |    radians(lat) AS phi, radians(lng) - radians(-96.0) AS dlam
         |  FROM t WHERE lng BETWEEN -125 AND -65 AND lat BETWEEN 15 AND 55),
         |aea1 AS (SELECT *,
         |    (${mS("radians(29.5)")} * ${mS("radians(29.5)")} - ${mS("radians(45.5)")} * ${mS("radians(45.5)")})
         |      / (${qS("radians(45.5)")} - ${qS("radians(29.5)")}) AS n,
         |    ${mS("radians(29.5)")} * ${mS("radians(29.5)")} AS m1sq,
         |    ${qS("radians(29.5)")} AS q1 FROM aea0),
         |aea2 AS (SELECT *, m1sq + n * q1 AS bigc FROM aea1),
         |aea AS (SELECT tile_id, CAST(5070 AS INT) AS epsg,
         |    6378137.0 * sqrt(greatest(0.0, bigc - n * ${qS("phi")})) / n * sin(n * dlam) AS x,
         |    6378137.0 * sqrt(bigc - n * ${qS("radians(23.0)")}) / n
         |      - 6378137.0 * sqrt(greatest(0.0, bigc - n * ${qS("phi")})) / n * cos(n * dlam) AS y
         |  FROM aea2),
         |lcc0 AS (SELECT tile_id, lng, lat, $grs80 AS e2, sqrt($grs80) AS e,
         |    radians(lat) AS phi, radians(lng) - radians(3.0) AS dlam
         |  FROM t WHERE lng BETWEEN -5 AND 15 AND lat BETWEEN 35 AND 55),
         |lcc1 AS (SELECT *,
         |    (ln(${mS("radians(49.0)")}) - ln(${mS("radians(44.0)")}))
         |      / (ln(${tS("radians(49.0)")}) - ln(${tS("radians(44.0)")})) AS n,
         |    ${mS("radians(49.0)")} AS m1, ${tS("radians(49.0)")} AS t1 FROM lcc0),
         |lcc2 AS (SELECT *, m1 / (n * pow(t1, n)) AS bigf FROM lcc1),
         |lcc3 AS (SELECT *, 6378137.0 * bigf * pow(${tS("radians(46.5)")}, n) AS rho0,
         |    CASE WHEN ${tS("phi")} <= 0 THEN 0.0
         |         ELSE 6378137.0 * bigf * pow(${tS("phi")}, n) END AS r FROM lcc2),
         |lcc AS (SELECT tile_id, CAST(2154 AS INT) AS epsg,
         |    700000.0 + r * sin(n * dlam) AS x,
         |    6600000.0 + rho0 - r * cos(n * dlam) AS y FROM lcc3),
         |ps0 AS (SELECT tile_id, lng, lat, $wgs84 AS e2, sqrt($wgs84) AS e,
         |    (-1.0) * radians(lat) AS phi, radians(lng) AS dlam
         |  FROM t WHERE lat <= -55),
         |ps1 AS (SELECT *,
         |    6378137.0 * ${mS("radians(71.0)")} * ${tS("phi")} / ${tS("radians(71.0)")} AS rho FROM ps0),
         |ps AS (SELECT tile_id, CAST(3031 AS INT) AS epsg,
         |    rho * sin(dlam) AS x,
         |    0.0 - (-1.0) * rho * cos(dlam) AS y FROM ps1),
         |allp AS (SELECT * FROM aea UNION ALL SELECT * FROM lcc UNION ALL SELECT * FROM ps)
         |SELECT tile_id, epsg, round(x, 3) AS x, round(y, 3) AS y
         |FROM allp ORDER BY tile_id, epsg""".stripMargin
    },

    /** F1: subset filter (tile_id ∈ subset). */
    QueryDef("f1_subset_filter") { (s, d) =>
      li(s, d)
        .filter(col("l_orderkey").isin(1L, 7L, 32L, 100L, 501L, 1234L, 2500L))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    } {
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem
        |WHERE l_orderkey IN (1, 7, 32, 100, 501, 1234, 2500)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    /** F2: source-intersection-style range filter (pushed to parquet). */
    QueryDef("f2_range_filter") { (s, d) =>
      li(s, d)
        .filter(col("l_shipdate") >= lit("1999-01-01") && col("l_shipdate") < lit("1999-02-01")
          && col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    } {
      """SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1999-01-01' AND l_shipdate < TIMESTAMP '1999-02-01'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    /** F3/J6: target-exists anti-join — parts with no high-quantity lineitem
      * (models skipping already-materialized tiles). */
    QueryDef("f3_exists_antijoin", headline = true) { (s, d) =>
      val existing = li(s, d).filter(col("l_quantity") > 49).select(col("l_partkey"))
      Tables.part(s, d)
        .join(existing, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    } {
      """SELECT p_partkey, p_name FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 49)
        |ORDER BY p_partkey""".stripMargin
    },

    /** P1: the calc DSL compiled to Catalyst — `(A + B) * (C + 2)`
      * (reference test case, tests/tiles/utils/test_array_utils.py:118). */
    QueryDef("p1_calc_arith") { (s, d) =>
      val bands = Map("A" -> col("l_quantity"), "B" -> col("l_discount"), "C" -> col("l_tax"))
      li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(Calc.column("(A + B) * (C + 2)", bands), 4).as("calc_value"))
        .orderBy("l_orderkey", "l_linenumber")
    } {
      """SELECT l_orderkey, l_linenumber,
        | round((l_quantity + l_discount) * (l_tax + 2), 4) AS calc_value
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    /** P1 multiband: `np.ma.array([A, B, A+B])` → 3 band columns
      * (tests/test_raster_src_tile.py:177). */
    QueryDef("p1_calc_multiband") { (s, d) =>
      val bands = Map("A" -> col("l_quantity"), "B" -> col("l_extendedprice"))
      val out = Calc.compile("np.ma.array([A, B, A + B])", bands)
      li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(out(0), 4).as("band0"), round(out(1), 4).as("band1"), round(out(2), 4).as("band2"))
        .orderBy("l_orderkey", "l_linenumber")
    } {
      """SELECT l_orderkey, l_linenumber,
        | round(l_quantity, 4) AS band0, round(l_extendedprice, 4) AS band1,
        | round(l_quantity + l_extendedprice, 4) AS band2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    /** P2: masked → nodata fill + cast (`set_datatype`,
      * array_utils.py:12-41): mask pixels where discount>0.05, fill -1. */
    QueryDef("p2_cast_fill") { (s, d) =>
      val masked = when(col("l_discount") > 0.05, lit(null)).otherwise(col("l_quantity"))
      li(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(masked, lit(-1.0)).cast("long").as("filled"))
        .orderBy("l_orderkey", "l_linenumber")
    } {
      """SELECT l_orderkey, l_linenumber,
        | CAST(coalesce(CASE WHEN l_discount > 0.05 THEN NULL ELSE l_quantity END, -1.0) AS BIGINT) AS filled
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    },

    /** P3: vector calc = SQL CASE expression (vector_src_tile.py:139-143). */
    QueryDef("p3_vector_calc") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          expr("CASE WHEN event_type = 'purchase' THEN 3 WHEN event_type = 'click' THEN 2 " +
            "WHEN event_type = 'view' THEN 1 ELSE 0 END").as("burn_value"))
        .orderBy("event_id")
    } {
      """SELECT event_id,
        | CAST(CASE WHEN event_type = 'purchase' THEN 3 WHEN event_type = 'click' THEN 2
        |      WHEN event_type = 'view' THEN 1 ELSE 0 END AS INT) AS burn_value
        |FROM events ORDER BY event_id""".stripMargin
    },

    /** P6: snap values to a 0.25 lattice, top-left bias (grid.py:71-97). */
    QueryDef("p6_snap") { (s, d) =>
      Tables.events(s, d)
        .select(col("event_id"),
          (floor(col("value") / 0.25) * 0.25).as("snapped"))
        .orderBy("event_id")
    } {
      """SELECT event_id, floor(value / 0.25) * 0.25 AS snapped
        |FROM events ORDER BY event_id""".stripMargin
    },

    /** P7: the SYMBOLOGY bake — value band → RGBA channel bands through
      * [[graft.functions.ColorMaps.applyColormap]], both reference
      * colormap types (`models/pydantic.py:30-33`, `enums.py:19-24`):
      * `discrete` exact-key lookup (unmapped keys → transparent 0s) and
      * `gradient` piecewise-linear interpolation with end-clamping (the
      * gdaldem color-relief rule). Per pixel the interp is
      * floor(c0 + (c1-c0)·(v-k0)/(k1-k0) + 0.5) in a fixed association,
      * so DuckDB replays the same IEEE doubles bit-for-bit. Nodata pixels
      * ((i % 11) = 0 → null) must come out (0,0,0,0) — fully transparent,
      * never a phantom color. All channels are codegen'd when-ladders
      * inside one `transform`; no UDF, no shuffle, one partial-agg fold
      * per asset. */
    QueryDef("p7_symbology") { (s, d) =>
      import graft.core.{RGBA, Symbology}
      import graft.functions.ColorMaps
      val N = 576
      val discrete = Symbology("discrete", Map(
        0.0 -> RGBA(12, 34, 56), 1.0 -> RGBA(200, 10, 0),
        2.0 -> RGBA(0, 128, 64, 128), 3.0 -> RGBA(255, 255, 0, 64),
        4.0 -> RGBA(7, 7, 7, 7))) // dv = 5 stays unmapped → transparent
      val gradient = Symbology("gradient", Map(
        0.0 -> RGBA(10, 0, 200), 250.0 -> RGBA(255, 40, 0),
        600.0 -> RGBA(20, 255, 60, 180), 1000.0 -> RGBA(0, 12, 255, 90)))
      val base = Tables.part(s, d).filter(col("p_partkey") <= 8)
        .select(col("p_partkey").cast("long").as("asset_id"))
        .withColumn("band_1", transform(sequence(lit(0), lit(N - 1)), i =>
          when(pmod(i, lit(11)) === 0, lit(null).cast("double"))
            .otherwise(pmod(lit(37) * col("asset_id") + lit(13) * i, lit(1001))
              .cast("double"))))
      def leg(df: DataFrame, bandCol: String, sym: Symbology, mode: String) = {
        val withC = ColorMaps.applyColormap(col(bandCol), sym)
          .foldLeft(df) { case (acc, (n, c)) => acc.withColumn(s"ch_$n", c) }
        def total(n: String) = aggregate(col(s"ch_$n"), lit(0L),
          (acc, x) => acc + x.cast("long")).as(s"sum_$n")
        val wsumR = aggregate(
          zip_with(col("ch_r"), sequence(lit(0), lit(N - 1)),
            (c, i) => c.cast("long") * i),
          lit(0L), (acc, x) => acc + x).as("wsum_r")
        withC.select(col("asset_id"), lit(mode).as("mode"),
          total("r"), total("g"), total("b"), total("a"), wsumR)
      }
      val disc = leg(base.withColumn("band_d",
          transform(col("band_1"), v => pmod(v, lit(6.0)))),
        "band_d", discrete, "discrete")
      val grad = leg(base, "band_1", gradient, "gradient")
      disc.unionByName(grad).orderBy("asset_id", "mode")
    } {
      // symbology bake: discrete exact-key lookup (dv=5 unmapped -> 0s,
      // null -> 0s) and gradient piecewise-linear interp replayed with the
      // SAME association floor(c0 + dc*(v-k0)/dk + 0.5) -> identical IEEE
      // doubles in both engines
      """WITH a AS (SELECT CAST(p_partkey AS BIGINT) AS asset_id FROM part
        |           WHERE p_partkey <= 8),
        |px AS (SELECT asset_id, i,
        |         CASE WHEN i % 11 = 0 THEN NULL
        |              ELSE (37*asset_id + 13*i) % 1001 END AS v
        |       FROM a CROSS JOIN generate_series(0, 575) gs(i)),
        |d AS (SELECT asset_id, 'discrete' AS mode, i, v % 6 AS dv FROM px),
        |dch AS (SELECT asset_id, mode, i,
        |  CASE WHEN dv IS NULL THEN 0 WHEN dv=0 THEN 12 WHEN dv=1 THEN 200
        |       WHEN dv=2 THEN 0 WHEN dv=3 THEN 255 WHEN dv=4 THEN 7 ELSE 0 END AS r,
        |  CASE WHEN dv IS NULL THEN 0 WHEN dv=0 THEN 34 WHEN dv=1 THEN 10
        |       WHEN dv=2 THEN 128 WHEN dv=3 THEN 255 WHEN dv=4 THEN 7 ELSE 0 END AS g,
        |  CASE WHEN dv IS NULL THEN 0 WHEN dv=0 THEN 56 WHEN dv=1 THEN 0
        |       WHEN dv=2 THEN 64 WHEN dv=3 THEN 0 WHEN dv=4 THEN 7 ELSE 0 END AS b,
        |  CASE WHEN dv IS NULL THEN 0 WHEN dv=0 THEN 255 WHEN dv=1 THEN 255
        |       WHEN dv=2 THEN 128 WHEN dv=3 THEN 64 WHEN dv=4 THEN 7 ELSE 0 END AS al
        |  FROM d),
        |gch AS (SELECT asset_id, 'gradient' AS mode, i,
        |  CASE WHEN v IS NULL THEN 0 WHEN v <= 0 THEN 10
        |       WHEN v <= 250 THEN CAST(FLOOR(10 + 245*(v-0)/250 + 0.5) AS INT)
        |       WHEN v <= 600 THEN CAST(FLOOR(255 + -235*(v-250)/350 + 0.5) AS INT)
        |       WHEN v <= 1000 THEN CAST(FLOOR(20 + -20*(v-600)/400 + 0.5) AS INT)
        |       ELSE 0 END AS r,
        |  CASE WHEN v IS NULL THEN 0 WHEN v <= 0 THEN 0
        |       WHEN v <= 250 THEN CAST(FLOOR(0 + 40*(v-0)/250 + 0.5) AS INT)
        |       WHEN v <= 600 THEN CAST(FLOOR(40 + 215*(v-250)/350 + 0.5) AS INT)
        |       WHEN v <= 1000 THEN CAST(FLOOR(255 + -243*(v-600)/400 + 0.5) AS INT)
        |       ELSE 12 END AS g,
        |  CASE WHEN v IS NULL THEN 0 WHEN v <= 0 THEN 200
        |       WHEN v <= 250 THEN CAST(FLOOR(200 + -200*(v-0)/250 + 0.5) AS INT)
        |       WHEN v <= 600 THEN CAST(FLOOR(0 + 60*(v-250)/350 + 0.5) AS INT)
        |       WHEN v <= 1000 THEN CAST(FLOOR(60 + 195*(v-600)/400 + 0.5) AS INT)
        |       ELSE 255 END AS b,
        |  CASE WHEN v IS NULL THEN 0 WHEN v <= 0 THEN 255
        |       WHEN v <= 250 THEN CAST(FLOOR(255 + 0*(v-0)/250 + 0.5) AS INT)
        |       WHEN v <= 600 THEN CAST(FLOOR(255 + -75*(v-250)/350 + 0.5) AS INT)
        |       WHEN v <= 1000 THEN CAST(FLOOR(180 + -90*(v-600)/400 + 0.5) AS INT)
        |       ELSE 90 END AS al
        |  FROM px),
        |legs AS (SELECT * FROM dch UNION ALL SELECT * FROM gch)
        |SELECT asset_id, mode,
        |  CAST(SUM(r) AS BIGINT) AS sum_r, CAST(SUM(g) AS BIGINT) AS sum_g,
        |  CAST(SUM(b) AS BIGINT) AS sum_b, CAST(SUM(al) AS BIGINT) AS sum_a,
        |  CAST(SUM(r*i) AS BIGINT) AS wsum_r
        |FROM legs GROUP BY 1, 2 ORDER BY asset_id, mode""".stripMargin
    },

    /** P4: geometry clip through the REAL JTS path — every footprint
      * intersected with a fixed window via `st_intersection` (the same
      * function the vector pipeline clips with), area of the clipped
      * geometry out. The oracle cross-checks JTS against closed-form
      * axis-aligned arithmetic (integer-valued lattice bounds ⇒ the
      * doubles are exact); empty intersections surface as area 0, the
      * K4 pad discipline. */
    QueryDef("p4_clip_area") { (s, d) =>
      import graft.functions.GeoFunctions
      val win = GeoFunctions.st_makeEnvelope(
        lit(-60.0), lit(-40.0), lit(60.0), lit(40.0))
      footprints(s, d)
        .withColumn("__clip", GeoFunctions.st_intersection(
          GeoFunctions.st_makeEnvelope(col("f_left"), col("f_bottom"),
            col("f_right"), col("f_top")), win))
        .select(col("uri"),
          round(when(col("__clip").isNull, 0.0)
            .otherwise(GeoFunctions.st_area(col("__clip"))), 4).as("clip_area"))
        .orderBy("uri")
    } {
      // closed-form axis-aligned clip area vs the Spark side's real JTS
      // intersection — integer lattice bounds keep the doubles exact
      """SELECT concat('file_', p_partkey, '.tif') AS uri,
        |  round(
        |    greatest(0, least((p_partkey % 36) * 10 - 165, 60)
        |      - greatest((p_partkey % 36) * 10 - 180, -60)) *
        |    greatest(0, least((p_partkey % 18) * 10 - 75, 40)
        |      - greatest((p_partkey % 18) * 10 - 90, -40)), 4) AS clip_area
        |FROM part ORDER BY uri""".stripMargin
    },

    /** J3: mosaic overlay — priority-ordered first-non-null coalesce per
      * pixel over three source layers (the VRT overlay semantic the
      * raster pipeline runs inside LayerJob, here as an oracle-checkable
      * lattice query): layer 1 = first-line items, layer 2 = discounted
      * items, layer 3 = everything; a pixel takes the highest-priority
      * layer that has data there, and reports WHICH. One conditional
      * pixel aggregate computes all three layers in a single pass. */
    QueryDef("j3_mosaic_priority") { (s, d) =>
      li(s, d)
        .select((col("l_partkey") % 40).as("px"), (col("l_suppkey") % 10).as("py"),
          col("l_quantity").as("v"), col("l_linenumber"), col("l_discount"))
        .groupBy("px", "py")
        .agg(
          max(when(col("l_linenumber") === 1, col("v"))).as("__b1"),
          max(when(col("l_discount") > 0.05, col("v"))).as("__b2"),
          max(col("v")).as("__b3"))
        .select(col("px"), col("py"),
          coalesce(col("__b1"), col("__b2"), col("__b3")).cast("long").as("value"),
          when(col("__b1").isNotNull, 1L).when(col("__b2").isNotNull, 2L)
            .otherwise(3L).as("src_priority"))
        .orderBy("px", "py")
    } {
      // one conditional pixel aggregate; priority coalesce + provenance
      """WITH px AS (SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |    max(CASE WHEN l_linenumber = 1 THEN l_quantity END) AS b1,
        |    max(CASE WHEN l_discount > 0.05 THEN l_quantity END) AS b2,
        |    max(l_quantity) AS b3
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT px, py,
        |  CAST(floor(coalesce(b1, b2, b3)) AS BIGINT) AS value,
        |  CAST(CASE WHEN b1 IS NOT NULL THEN 1
        |    WHEN b2 IS NOT NULL THEN 2 ELSE 3 END AS BIGINT) AS src_priority
        |FROM px ORDER BY px, py""".stripMargin
    },

    /** J1/F2: tile ⋉ source-extent spatial semi-join — tiles whose interior
      * intersects any footprint; file catalog broadcast (SURVEY §4). */
    QueryDef("j1_spatial_semijoin") { (s, d) =>
      val tiles = LatLngGrid(10, 40000).tilesDF(s)
      val fp = broadcast(footprints(s, d))
      tiles.join(fp,
          col("left") < col("f_right") && col("f_left") < col("right") &&
            col("bottom") < col("f_top") && col("f_bottom") < col("top"), "left_semi")
        .select("tile_id", "left", "bottom", "right", "top")
        .orderBy("tile_id")
    } {
      """WITH tiles AS (
        |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |    || '_' ||
        |    CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |   CAST(c*10 - 180 AS DOUBLE) AS tl, CAST(80 - r*10 AS DOUBLE) AS tb,
        |   CAST(c*10 - 170 AS DOUBLE) AS tr, CAST(90 - r*10 AS DOUBLE) AS tt
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |fp AS (
        |  SELECT CAST((p_partkey % 36) * 10 - 180 AS DOUBLE) AS fl, CAST((p_partkey % 18) * 10 - 90 AS DOUBLE) AS fb,
        |         CAST((p_partkey % 36) * 10 - 165 AS DOUBLE) AS fr, CAST((p_partkey % 18) * 10 - 75 AS DOUBLE) AS ft
        |  FROM part)
        |SELECT tile_id, tl AS "left", tb AS bottom, tr AS "right", tt AS top FROM tiles
        |WHERE EXISTS (SELECT 1 FROM fp WHERE tl < fr AND fl < tr AND tb < ft AND fb < tt)
        |ORDER BY tile_id""".stripMargin
    },

    /** J5 spatial form — the ACTUAL `st_intersects` tile ⋈ features join
      * VectorJob runs (`plans/VectorJob.scala` — real JTS geometries via
      * `st_makeEnvelope`/`st_intersects`/`st_intersection`, broadcast tile
      * seed), where j1/j2 exercise only the bbox-arithmetic twin. Per
      * tile: intersecting-feature count and summed CLIPPED area (P4 on
      * the join output). The oracle replays it as closed-form axis-
      * aligned overlap products — integer lattice bounds keep every
      * double exact, and JTS's touch-counts-as-intersecting semantics
      * map to `<=` (touch-only pairs clip to a zero-area line, the p4
      * empty→0 discipline). Reference: tiles/vector_src_tile.py:122-147. */
    QueryDef("j6_spatial_features") { (s, d) =>
      import graft.functions.GeoFunctions
      val tiles = LatLngGrid(10, 40000).tilesDF(s)
        .withColumn("tile_env", GeoFunctions.st_makeEnvelope(
          col("left"), col("bottom"), col("right"), col("top")))
      val feats = footprints(s, d)
        .withColumn("geom", GeoFunctions.st_makeEnvelope(
          col("f_left"), col("f_bottom"), col("f_right"), col("f_top")))
      feats.join(broadcast(tiles),
          GeoFunctions.st_intersects(col("geom"), col("tile_env")))
        .withColumn("__clip",
          GeoFunctions.st_intersection(col("geom"), col("tile_env")))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_feat"),
          round(sum(when(col("__clip").isNull, 0.0)
            .otherwise(GeoFunctions.st_area(col("__clip")))), 4)
            .as("sum_clip_area"))
        .orderBy("tile_id")
    } {
      // the REAL JTS st_intersects/st_intersection join replayed as
      // closed-form axis-aligned overlap products; JTS touch-counts-as-
      // intersecting ⇒ <=, touch-only pairs contribute area 0
      """WITH tiles AS (
        |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |    || '_' ||
        |    CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |   CAST(c*10 - 180 AS DOUBLE) AS tl, CAST(80 - r*10 AS DOUBLE) AS tb,
        |   CAST(c*10 - 170 AS DOUBLE) AS tr, CAST(90 - r*10 AS DOUBLE) AS tt
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |fp AS (
        |  SELECT CAST((p_partkey % 36) * 10 - 180 AS DOUBLE) AS fl, CAST((p_partkey % 18) * 10 - 90 AS DOUBLE) AS fb,
        |         CAST((p_partkey % 36) * 10 - 165 AS DOUBLE) AS fr, CAST((p_partkey % 18) * 10 - 75 AS DOUBLE) AS ft
        |  FROM part)
        |SELECT tile_id, count(*) AS n_feat,
        |  round(sum(
        |    greatest(0, least(fr, tr) - greatest(fl, tl)) *
        |    greatest(0, least(ft, tt) - greatest(fb, tb))), 4) AS sum_clip_area
        |FROM tiles JOIN fp
        |  ON tl <= fr AND fl <= tr AND tb <= ft AND fb <= tt
        |GROUP BY tile_id ORDER BY tile_id""".stripMargin
    },

    /** J2: tile ⋈ source-files inner spatial join → (tile, file) work list.
      *
      * Cell-keyed equi-join (round 16 — was a broadcast nested-loop bbox
      * join, O(tiles × files) predicate evals: 130M at sf1 and the wrong
      * curve entirely for a 100-TB catalog): each footprint explodes to
      * the 10°-lattice cells its bbox overlaps (bounded fan-out — a
      * footprint spans ⌈w/10⌉+1 × ⌈h/10⌉+1 cells), each tile lives in
      * exactly ONE cell, so candidate pairs meet in precisely one cell
      * (no dedup) and the exact bbox predicate runs only on candidates.
      * Work drops from |tiles|·|files| to |files|·cells + |candidates|,
      * and both sides shuffle-join on the cell key at any scale. Strict
      * (<) overlap semantics preserved by the residual predicate —
      * touching-only footprints land in a cell but never match. */
    QueryDef("j2_file_catalog_join", headline = true) { (s, d) =>
      val tiles = LatLngGrid(10, 40000).tilesDF(s)
        .withColumn("cx", floor((col("left") + 180) / 10).cast("int"))
        .withColumn("cy", floor((col("bottom") + 90) / 10).cast("int"))
      // Guarded lattice explode (ADVICE r16): clamping start to the domain
      // floor and stop to the domain ceiling makes start > stop for a
      // footprint lying entirely OUTSIDE the grid domain, and Spark's
      // sequence() then yields a DESCENDING range — spurious candidate
      // cells (the residual bbox filter removed them, but out-of-domain
      // rows should produce ZERO candidates, not a lattice-wide fan-out).
      def cells(start: Column, stop: Column): Column =
        explode(when(start <= stop, sequence(start, stop))
          .otherwise(array().cast("array<int>")))
      val fp = footprints(s, d)
        .withColumn("cx", cells(
          greatest(floor((col("f_left") + 180) / 10).cast("int"), lit(0)),
          least(floor((col("f_right") + 180) / 10).cast("int"), lit(35))))
        .withColumn("cy", cells(
          greatest(floor((col("f_bottom") + 90) / 10).cast("int"), lit(0)),
          least(floor((col("f_top") + 90) / 10).cast("int"), lit(17))))
      tiles.join(fp, Seq("cx", "cy"))
        .filter(col("left") < col("f_right") && col("f_left") < col("right") &&
          col("bottom") < col("f_top") && col("f_bottom") < col("top"))
        .groupBy("tile_id")
        .agg(count(lit(1)).as("n_files"))
        .orderBy("tile_id")
    } {
      """WITH tiles AS (
        |  SELECT (CASE WHEN 90 - r*10 >= 0 THEN printf('%02dN', 90 - r*10) ELSE printf('%02dS', r*10 - 90) END
        |    || '_' ||
        |    CASE WHEN c*10 - 180 >= 0 THEN printf('%03dE', c*10 - 180) ELSE printf('%03dW', 180 - c*10) END) AS tile_id,
        |   CAST(c*10 - 180 AS DOUBLE) AS tl, CAST(80 - r*10 AS DOUBLE) AS tb,
        |   CAST(c*10 - 170 AS DOUBLE) AS tr, CAST(90 - r*10 AS DOUBLE) AS tt
        |  FROM generate_series(0, 17) t1(r) CROSS JOIN generate_series(0, 35) t2(c)),
        |fp AS (
        |  SELECT CAST((p_partkey % 36) * 10 - 180 AS DOUBLE) AS fl, CAST((p_partkey % 18) * 10 - 90 AS DOUBLE) AS fb,
        |         CAST((p_partkey % 36) * 10 - 165 AS DOUBLE) AS fr, CAST((p_partkey % 18) * 10 - 75 AS DOUBLE) AS ft
        |  FROM part)
        |SELECT tile_id, count(*) AS n_files FROM tiles JOIN fp
        |  ON tl < fr AND fl < tr AND tb < ft AND fb < tt
        |GROUP BY tile_id ORDER BY tile_id""".stripMargin
    },

    /** J4: band alignment zip — two per-band relations full-outer-joined on
      * the key, absent side = null band (empty padding, K4). */
    QueryDef("j4_band_align_join") { (s, d) =>
      val l = li(s, d)
      val bandA = l.filter(col("l_returnflag") === "R").groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("band_a"))
      val bandB = l.filter(col("l_returnflag") === "A").groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("band_b"))
      bandA.join(bandB, Seq("l_orderkey"), "full_outer")
        .select(col("l_orderkey"),
          coalesce(col("band_a"), lit(0.0)).as("band_a"),
          coalesce(col("band_b"), lit(0.0)).as("band_b"))
        .orderBy("l_orderkey")
    } {
      """WITH a AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS band_a FROM lineitem
        |           WHERE l_returnflag = 'R' GROUP BY l_orderkey),
        |     b AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS band_b FROM lineitem
        |           WHERE l_returnflag = 'A' GROUP BY l_orderkey)
        |SELECT coalesce(a.l_orderkey, b.l_orderkey) AS l_orderkey,
        |       coalesce(band_a, 0.0) AS band_a, coalesce(band_b, 0.0) AS band_b
        |FROM a FULL OUTER JOIN b ON a.l_orderkey = b.l_orderkey
        |ORDER BY l_orderkey""".stripMargin
    },

    /** J5 + flagship: 3-way equi-join + agg (customer⋈orders⋈lineitem). */
    QueryDef("j5_join3_revenue", headline = true) { (s, d) =>
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") >= lit("2000-01-01"))
      val l = li(s, d)
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        // +5e-7 before rounding: the true sum is an exact 4-decimal rational,
        // but fp accumulation order differs across engines; the epsilon
        // pushes exact .xx5 boundary sums off the round-half edge the same
        // way on both sides (non-boundary sums are ≥1e-4 away, unaffected).
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) + lit(5e-7), 2)
          .as("revenue"))
        .orderBy("o_orderkey")
    } {
      """SELECT o_orderkey, o_orderdate,
        | round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate >= TIMESTAMP '2000-01-01'
        |GROUP BY o_orderkey, o_orderdate ORDER BY o_orderkey""".stripMargin
    },

    /** Bloom-pruned dimension join — the runtime-filter shape for
      * selective fact⋈dim joins at 100 TB: an 8 KB bitset over the
      * filtered part keys prunes lineitem BEFORE any shuffle; the exact
      * join then removes Bloom false positives, so the result is
      * identical to the plain join the oracle runs. Pure codegen probe,
      * no UDF — see [[graft.functions.Bloom]]. */
    QueryDef("b1_bloom_join", headline = true) { (s, d) =>
      graft.functions.Bloom.prunedEquiJoin(
          li(s, d), "l_partkey",
          Tables.part(s, d).filter(col("p_size") <= 2), "p_partkey")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            + lit(5e-7), 2).as("revenue"))
        .orderBy("p_brand")
    } {
      """SELECT p_brand, count(*) AS n,
        |  round(sum(l_extendedprice * (1 - l_discount)) + 5e-7, 2) AS revenue
        |FROM part JOIN lineitem ON l_partkey = p_partkey
        |WHERE p_size <= 2 GROUP BY p_brand ORDER BY p_brand""".stripMargin
    },

    /** A1: rasterize burn-count — pixel = COUNT of covering features. */
    QueryDef("a1_rasterize_count", headline = true) { (s, d) =>
      pixels(s, d).groupBy("px", "py").agg(count(lit(1)).as("value"))
        .orderBy("px", "py")
    } {
      """SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, count(*) AS value
        |FROM lineitem GROUP BY 1, 2 ORDER BY px, py""".stripMargin
    },

    /** A2: rasterize burn-value — ordered burn ≡ max(field). */
    QueryDef("a2_rasterize_value") { (s, d) =>
      pixels(s, d).groupBy("px", "py").agg(max("value").as("value"))
        .orderBy("px", "py")
    } {
      """SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, max(l_quantity) AS value
        |FROM lineitem GROUP BY 1, 2 ORDER BY px, py""".stripMargin
    },

    /** A3: per-band statistics (gdalinfo -stats). */
    QueryDef("a3_band_stats", headline = true) { (s, d) =>
      li(s, d).groupBy("l_returnflag")
        .agg(
          round(min("l_extendedprice"), 4).as("stat_min"),
          round(max("l_extendedprice"), 4).as("stat_max"),
          round(avg("l_extendedprice"), 4).as("stat_mean"),
          round(stddev_samp(col("l_extendedprice")), 4).as("stat_std"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    } {
      """SELECT l_returnflag,
        | round(min(l_extendedprice), 4) AS stat_min, round(max(l_extendedprice), 4) AS stat_max,
        | round(avg(l_extendedprice), 4) AS stat_mean, round(stddev_samp(l_extendedprice), 4) AS stat_std,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    /** A4: histogram — 10 equal buckets over [900, 105000]. */
    QueryDef("a4_histogram", headline = true) { (s, d) =>
      val lo = 900.0; val hi = 105000.0; val n = 10
      val w = (hi - lo) / n
      li(s, d)
        .select(least(greatest(floor((col("l_extendedprice") - lo) / w), lit(0)), lit(n - 1))
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")
    } {
      """SELECT CAST(least(greatest(floor((l_extendedprice - 900.0) / 10410.0), 0), 9) AS BIGINT) AS bucket,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin
    },

    /** A5: valid-pixel count (masked semantics: nullif → count non-null). */
    QueryDef("a5_valid_count") { (s, d) =>
      li(s, d).groupBy("l_returnflag")
        .agg(
          count(when(col("l_discount") =!= 0, 1)).as("n_valid"),
          count(lit(1)).as("n_total"))
        .orderBy("l_returnflag")
    } {
      """SELECT l_returnflag, count(CASE WHEN l_discount != 0 THEN 1 END) AS n_valid,
        | count(*) AS n_total
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    /** A6: extent union — axis-aligned union of all footprints (the bbox
      * form of unary_union; full JTS union covered by GeomUnionAgg tests). */
    QueryDef("a6_extent_union") { (s, d) =>
      footprints(s, d).agg(
        min("f_left").as("ext_left"), min("f_bottom").as("ext_bottom"),
        max("f_right").as("ext_right"), max("f_top").as("ext_top"),
        count(lit(1)).as("n_files"))
    } {
      """SELECT min(CAST((p_partkey % 36) * 10 - 180 AS DOUBLE)) AS ext_left,
        | min(CAST((p_partkey % 18) * 10 - 90 AS DOUBLE)) AS ext_bottom,
        | max(CAST((p_partkey % 36) * 10 - 165 AS DOUBLE)) AS ext_right,
        | max(CAST((p_partkey % 18) * 10 - 75 AS DOUBLE)) AS ext_top,
        | count(*) AS n_files
        |FROM part""".stripMargin
    },

    /** A7: manifest collect — deterministic ordered concatenation of
      * per-group manifest entries (collect_list + sort). */
    QueryDef("a7_manifest_collect") { (s, d) =>
      li(s, d).groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
        .select(concat(col("l_returnflag"), lit("|"), col("l_linestatus"), lit("|"), col("n")).as("entry"))
        .agg(array_join(array_sort(collect_list(col("entry"))), ",").as("manifest"))
    } {
      """WITH e AS (SELECT l_returnflag || '|' || l_linestatus || '|' || count(*) AS entry
        |           FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |SELECT string_agg(entry, ',' ORDER BY entry) AS manifest FROM e""".stripMargin
    },

    /** A9 (beyond-parity): zonal statistics — per-ZONE stats of a value
      * raster, zones themselves a raster (the classic zonal-stats GIS op).
      * One equi-join on the pixel key (both rasters share the grid
      * partitioning, so at scale this is co-located) + one hash aggregate. */
    QueryDef("a9_zonal_stats") { (s, d) =>
      val values = pixels(s, d).groupBy("px", "py").agg(count(lit(1)).as("v"))
      // floor, not a bare cast: DuckDB's double→BIGINT cast ROUNDS where
      // Spark's truncates — floor on both sides removes the divergence
      val zones = pixels(s, d).groupBy("px", "py")
        .agg(floor(max("value") / 10).cast("long").as("zone"))
      values.join(zones, Seq("px", "py"))
        .groupBy("zone")
        .agg(count(lit(1)).as("n_cells"), min("v").as("z_min"), max("v").as("z_max"),
          round(avg("v"), 4).as("z_mean"), sum("v").as("z_sum"))
        .orderBy("zone")
    } {
      """WITH v AS (SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py, count(*) AS v
        |           FROM lineitem GROUP BY 1, 2),
        |z AS (SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |        CAST(floor(max(l_quantity) / 10) AS BIGINT) AS zone
        |      FROM lineitem GROUP BY 1, 2)
        |SELECT zone, count(*) AS n_cells, min(v.v) AS z_min, max(v.v) AS z_max,
        |  round(avg(v.v), 4) AS z_mean, CAST(sum(v.v) AS BIGINT) AS z_sum
        |FROM v JOIN z USING (px, py)
        |GROUP BY zone ORDER BY zone""".stripMargin
    },

    /** A14 (beyond-parity): change-detection cross-tabulation — the
      * landcover-transition matrix of raster change analysis: per
      * (class_from, class_to) pixel counts and area share between the
      * pre-1997H2 and post-1997H2 classifications of a 200×50 lattice;
      * a pixel with no observations in an epoch takes the nodata class
      * −1 (the K4 pad). Both epoch rasters derive from one fact scan, so
      * a single conditional pixel aggregate computes both classes in one
      * pass; two materialized rasters co-locate on the grid key and the
      * same cross-tab is one equi-join + this aggregate. The share
      * divides once per matrix cell (|classes|² rows), total rides as a
      * 1-row broadcast. */
    QueryDef("a14_change_matrix") { (s, d) =>
      val split = "1997-06-01"
      val base = graft.core.Caching.shared(
        li(s, d).select(
            (col("l_partkey") % 200).as("px"), (col("l_suppkey") % 50).as("py"),
            col("l_quantity").as("value"), col("l_shipdate"))
          .groupBy("px", "py")
          .agg(
            coalesce(floor(max(when(col("l_shipdate") < lit(split), col("value"))) / 10),
              lit(-1)).cast("long").as("c_from"),
            coalesce(floor(max(when(col("l_shipdate") >= lit(split), col("value"))) / 10),
              lit(-1)).cast("long").as("c_to")))
      val total = base.agg(count(lit(1)).as("__t"))
      base.groupBy("c_from", "c_to").agg(count(lit(1)).as("n_px"))
        .crossJoin(broadcast(total))
        .select(col("c_from"), col("c_to"), col("n_px"),
          expr("n_px * 1000000 div __t").as("share_micro"))
        .orderBy("c_from", "c_to")
    } {
      // one-pass dual classification + |classes|²-row cross-tab; the
      // share divides once per matrix cell against the 1-row total
      """WITH px AS (SELECT l_partkey % 200 AS px, l_suppkey % 50 AS py,
        |    CAST(coalesce(floor(max(CASE WHEN l_shipdate < TIMESTAMP '1997-06-01'
        |      THEN l_quantity END) / 10), -1) AS BIGINT) AS c_from,
        |    CAST(coalesce(floor(max(CASE WHEN l_shipdate >= TIMESTAMP '1997-06-01'
        |      THEN l_quantity END) / 10), -1) AS BIGINT) AS c_to
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT count(*) AS t FROM px)
        |SELECT c_from, c_to, count(*) AS n_px,
        |  CAST(count(*) * 1000000 // t.t AS BIGINT) AS share_micro
        |FROM px, t GROUP BY c_from, c_to, t.t
        |ORDER BY c_from, c_to""".stripMargin
    },

    /** A10 (beyond-parity): connected-component labeling of same-valued
      * zones on the a9 raster — GDAL's region-group/sieve primitive as
      * shifted-key equi-joins + [[graft.operators.Dedup.components]];
      * deterministic min-pixel-id labels, recursive-CTE closure oracle. */
    // min-of-2: swung 4.49 -> 7.21 s at sf1 between two quiet runs.
    QueryDef("a10_region_label", headline = true, sf1MinOf2 = true) { (s, d) =>
      val zones = pixels(s, d).groupBy("px", "py")
        .agg(floor(max("value") / 10).cast("long").as("v"))
      graft.operators.Regions.label(zones).orderBy("px", "py")
    } {
      """WITH RECURSIVE cells AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |    CAST(floor(max(l_quantity) / 10) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |ids AS (SELECT px, py, v, px * 1048576 + py AS id FROM cells),
        |e AS (
        |  SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b
        |    ON b.px = a.px + 1 AND b.py = a.py AND b.v = a.v
        |  UNION ALL
        |  SELECT a.id, b.id FROM ids a JOIN ids b
        |    ON b.px = a.px AND b.py = a.py + 1 AND b.v = a.v),
        |ee AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach AS (
        |  SELECT src, dst FROM ee
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ee e2 ON r.dst = e2.src),
        |lbl AS (SELECT src AS id, least(src, min(dst)) AS region FROM reach GROUP BY src)
        |SELECT i.px, i.py, i.v, coalesce(l.region, i.id) AS region_id
        |FROM ids i LEFT JOIN lbl l ON i.id = l.id
        |ORDER BY px, py""".stripMargin
    },

    /** GDAL-sieve over the zone raster: regions under 3 px drop to nodata
      * (null), survivors keep their value; n_px rides along so the oracle
      * checks the census too. See [[graft.operators.Regions.sieve]]. */
    QueryDef("a12_sieve") { (s, d) =>
      val zones = pixels(s, d).groupBy("px", "py")
        .agg(floor(max("value") / 10).cast("long").as("v"))
      graft.operators.Regions.sieve(zones, minPx = 3).orderBy("px", "py")
    } {
      // a10's labeling + a size census + CASE: regions under 3 px → NULL
      """WITH RECURSIVE cells AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |    CAST(floor(max(l_quantity) / 10) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |ids AS (SELECT px, py, v, px * 1048576 + py AS id FROM cells),
        |e AS (
        |  SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b
        |    ON b.px = a.px + 1 AND b.py = a.py AND b.v = a.v
        |  UNION ALL
        |  SELECT a.id, b.id FROM ids a JOIN ids b
        |    ON b.px = a.px AND b.py = a.py + 1 AND b.v = a.v),
        |ee AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach AS (
        |  SELECT src, dst FROM ee
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ee e2 ON r.dst = e2.src),
        |lbl AS (SELECT src AS id, least(src, min(dst)) AS region FROM reach GROUP BY src),
        |labeled AS (
        |  SELECT i.px, i.py, i.v, coalesce(l.region, i.id) AS region_id
        |  FROM ids i LEFT JOIN lbl l ON i.id = l.id),
        |sz AS (SELECT v, region_id, count(*) AS n_px FROM labeled GROUP BY 1, 2)
        |SELECT labeled.px, labeled.py,
        |  CASE WHEN sz.n_px >= 3 THEN labeled.v END AS v, sz.n_px
        |FROM labeled JOIN sz ON sz.v = labeled.v AND sz.region_id = labeled.region_id
        |ORDER BY 1, 2""".stripMargin
    },

    /** GDAL-sieve, absorb form (gdal_sieve's DEFAULT): regions under 3 px
      * take the value of their largest 4-connected neighbor region (ties
      * to the smaller region id), instead of dropping to nodata like a12.
      * One absorb pass over original labels — see
      * [[graft.operators.Regions.sieveAbsorb]]. */
    QueryDef("a13_sieve_absorb") { (s, d) =>
      val zones = pixels(s, d).groupBy("px", "py")
        .agg(floor(max("value") / 10).cast("long").as("v"))
      graft.operators.Regions.sieveAbsorb(zones, minPx = 3).orderBy("px", "py")
    } {
      // a10's labeling + census + cross-region adjacency: sub-3px regions
      // take the largest neighbor's value (tie: smaller region id)
      """WITH RECURSIVE cells AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |    CAST(floor(max(l_quantity) / 10) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |ids AS (SELECT px, py, v, px * 1048576 + py AS id FROM cells),
        |e AS (
        |  SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b
        |    ON b.px = a.px + 1 AND b.py = a.py AND b.v = a.v
        |  UNION ALL
        |  SELECT a.id, b.id FROM ids a JOIN ids b
        |    ON b.px = a.px AND b.py = a.py + 1 AND b.v = a.v),
        |ee AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |reach AS (
        |  SELECT src, dst FROM ee
        |  UNION
        |  SELECT r.src, e2.dst FROM reach r JOIN ee e2 ON r.dst = e2.src),
        |lbl AS (SELECT src AS id, least(src, min(dst)) AS region FROM reach GROUP BY src),
        |labeled AS (
        |  SELECT i.px, i.py, i.v, coalesce(l.region, i.id) AS region_id
        |  FROM ids i LEFT JOIN lbl l ON i.id = l.id),
        |sz AS (SELECT region_id, count(*) AS n_px FROM labeled GROUP BY 1),
        |rv AS (SELECT region_id, min(v) AS rv FROM labeled GROUP BY 1),
        |tch AS (
        |  SELECT a.region_id AS ra, b.region_id AS rb FROM labeled a JOIN labeled b
        |    ON b.px = a.px + 1 AND b.py = a.py
        |  UNION ALL
        |  SELECT a.region_id, b.region_id FROM labeled a JOIN labeled b
        |    ON b.px = a.px AND b.py = a.py + 1),
        |pairs AS (SELECT DISTINCT ra, rb FROM
        |  (SELECT ra, rb FROM tch UNION ALL SELECT rb AS ra, ra AS rb FROM tch)
        |  WHERE ra <> rb),
        |ns AS (SELECT p.ra, p.rb, sz.n_px FROM pairs p JOIN sz ON sz.region_id = p.rb),
        |mx AS (SELECT ra, max(n_px) AS mx FROM ns GROUP BY 1),
        |pick AS (SELECT ns.ra, min(ns.rb) AS rb FROM ns JOIN mx
        |  ON mx.ra = ns.ra AND ns.n_px = mx.mx GROUP BY 1),
        |ab AS (SELECT pick.ra AS region_id, rv.rv AS absorb_v
        |  FROM pick JOIN rv ON rv.region_id = pick.rb)
        |SELECT l.px, l.py,
        |  CASE WHEN sz.n_px >= 3 THEN l.v ELSE coalesce(ab.absorb_v, l.v) END AS v
        |FROM labeled l JOIN sz ON sz.region_id = l.region_id
        |LEFT JOIN ab ON ab.region_id = l.region_id
        |ORDER BY 1, 2""".stripMargin
    },

    /** Raster proximity (GDAL gdal_proximity with maxdist): per pixel, the
      * min SQUARED distance to the nearest high-value pixel within radius
      * 3, null beyond — via the binned distance join's min-aggregate form
      * ([[graft.operators.DistanceJoin.nearestWithinSq]]); exact integer
      * d², so the min is order-independent. The cell relation is pinned
      * once and feeds both join sides and the final left join. */
    QueryDef("a11_proximity") { (s, d) =>
      val cells = graft.core.Caching.shared(
        pixels(s, d).groupBy("px", "py")
          .agg(floor(max("value") / 10).cast("long").as("v"))
          .withColumn("id", col("px") * 1048576 + col("py")))
      val targets = cells.filter(col("v") >= 5)
      val near = graft.operators.DistanceJoin.nearestWithinSq(
        cells, targets, d = 3.0, idCol = "id", xCol = "px", yCol = "py")
      cells.join(near, Seq("id"), "left")
        .select(col("px"), col("py"), col("v"), col("d2"))
        .orderBy("px", "py")
    } {
      """WITH cells AS (
        |  SELECT l_partkey % 40 AS px, l_suppkey % 10 AS py,
        |    CAST(floor(max(l_quantity) / 10) AS BIGINT) AS v
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT px AS tx, py AS ty FROM cells WHERE v >= 5),
        |near AS (
        |  SELECT c.px, c.py,
        |    min((c.px - t.tx)*(c.px - t.tx) + (c.py - t.ty)*(c.py - t.ty)) AS d2
        |  FROM cells c JOIN t ON abs(c.px - t.tx) <= 3 AND abs(c.py - t.ty) <= 3
        |  WHERE (c.px - t.tx)*(c.px - t.tx) + (c.py - t.ty)*(c.py - t.ty) <= 9
        |  GROUP BY c.px, c.py)
        |SELECT c.px, c.py, c.v, n.d2 FROM cells c LEFT JOIN near n
        |  ON c.px = n.px AND c.py = n.py
        |ORDER BY c.px, c.py""".stripMargin
    },

    /** A8: status tally (pipe.py:137-168 status algebra). */
    QueryDef("a8_status_tally") { (s, d) =>
      Tables.orders(s, d)
        .select(when(col("o_orderkey") % 10 === 0, "existing")
          .when(col("o_orderkey") % 10 === 1, "failed")
          .when(col("o_orderkey") % 10 === 2, "skipped")
          .otherwise("processed").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    } {
      """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'existing'
        |            WHEN o_orderkey % 10 = 1 THEN 'failed'
        |            WHEN o_orderkey % 10 = 2 THEN 'skipped'
        |            ELSE 'processed' END AS status, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin
    },

    /** O1: deterministic top-k (order + limit with total tiebreak). */
    QueryDef("o1_topk", headline = true) { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice")
    } {
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin
    },

    /** O3: set ops — nations having customers ∩ nations having suppliers,
      * minus nations of low-balance suppliers (INTERSECT/EXCEPT). */
    QueryDef("o3_set_ops") { (s, d) =>
      val custNations = Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
      val suppNations = Tables.supplier(s, d).select(col("s_nationkey").as("nationkey"))
      val poor = Tables.supplier(s, d).filter(col("s_acctbal") < 0)
        .select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations).except(poor).orderBy("nationkey")
    } {
      """(SELECT c_nationkey AS nationkey FROM customer
        | INTERSECT SELECT s_nationkey FROM supplier)
        |EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal < 0
        |ORDER BY nationkey""".stripMargin
    },

    /** O4: tile-set dedup (dropDuplicates on the derived tile key). */
    QueryDef("o4_tile_dedup") { (s, d) =>
      Tables.events(s, d)
        .select((col("user_id") % 10).as("tile_x"), col("event_type"))
        .dropDuplicates("tile_x", "event_type")
        .orderBy("tile_x", "event_type")
    } {
      """SELECT DISTINCT user_id % 10 AS tile_x, event_type FROM events
        |ORDER BY tile_x, event_type""".stripMargin
    },

    /** Relational EXCEPT (distinct set difference): parts never shipped in
      * bulk (quantity > 45) — Catalyst plans EXCEPT as an aggregate +
      * left-anti join, the shuffle-minimal form; the filter pushes to the
      * lineitem scan. */
    QueryDef("o5_set_except") { (s, d) =>
      Tables.part(s, d).select(col("p_partkey"))
        .except(li(s, d).filter(col("l_quantity") > 45)
          .select(col("l_partkey").as("p_partkey")))
        .orderBy("p_partkey")
    } {
      """SELECT p_partkey FROM part
        |EXCEPT SELECT l_partkey FROM lineitem WHERE l_quantity > 45
        |ORDER BY p_partkey""".stripMargin
    })
}
