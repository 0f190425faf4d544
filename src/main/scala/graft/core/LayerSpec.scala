package graft.core

import graft.core.grid.{Grid, GridFactory}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** RGBA colormap entry (`gfw_pixetl/models/pydantic.py:20-27`). */
final case class RGBA(red: Int, green: Int, blue: Int, alpha: Int = 255) {
  require(Seq(red, green, blue, alpha).forall(c => c >= 0 && c <= 255), "RGBA components must be in [0, 255]")
}

/** Symbology = colormap sink metadata, no compute (`pydantic.py:30-33`). */
final case class Symbology(`type`: String, colormap: Map[Double, RGBA])

/** The declarative layer spec — the root of every job's logical plan.
  *
  * Mirrors `LayerModel` (`gfw_pixetl/models/pydantic.py:35-78`) including its
  * cross-field validators: version regex, raster↔source_uri implication, and
  * the multi-band nodata rule (list length == band_count, all values equal).
  */
final case class LayerSpec(
    dataset: String,
    version: String,
    sourceType: String,              // "raster" | "vector"
    pixelMeaning: String,
    dataType: String,
    nbits: Option[Int] = None,
    calc: Option[String] = None,
    bandCount: Int = 1,
    unionBands: Boolean = false,
    noData: Option[Seq[Double]] = None, // normalized to per-band list
    grid: String,
    rasterizeMethod: Option[String] = None, // "count" | "value"
    resampling: String = "nearest",
    sourceUri: Option[Seq[String]] = None,
    order: Option[String] = None,       // "asc" | "desc"
    symbology: Option[Symbology] = None,
    computeStats: Boolean = false,
    // `compute_histogram`: parsed, but a publish ignores it (tiles.geojson
    // carries no per-band histogram); per-tile histograms come only from
    // `GeoTiffSpark.fetchMetadata(computeHistogram = true)`, gdalinfo -hist
    computeHistogram: Boolean = false,
    photometric: Option[String] = None,
    // COG-driver-style destination options — a step beyond the reference,
    // whose COGs ship WITHOUT overviews (README.md:6): `overviews` declares
    // internal pyramid factors explicitly, `autoOverviews` derives the
    // GDAL-COG default chain (halve until a level fits one block), and
    // `cog` front-loads the IFD chain so one ranged head read plans a tile
    overviews: Seq[Int] = Nil,
    autoOverviews: Boolean = false,
    overviewResampling: String = "average",
    // seam-exact interpolating pyramids (round 17): pad each block with
    // its neighbor halo before the taps run, so cubic/lanczos overviews
    // are the WHOLE-tile convolution GDAL's gdaladdo computes (one extra
    // keyed exchange per halving); no-op for aligned-window kernels
    overviewSeamExact: Boolean = false,
    // "internal" = chained IFDs in the tile itself (the COG/gdaladdo
    // default); "external" = a .ovr sidecar per tile (gdaladdo -ro), the
    // choice for destinations whose tiles must stay byte-stable
    overviewLayout: String = "internal",
    cog: Boolean = false) {

  import LayerSpec._

  require(versionRegex.matches(version), s"Invalid version: $version")
  require(sourceType == "raster" || sourceType == "vector", s"Unknown source_type: $sourceType")
  if (sourceType == "raster")
    require(sourceUri.exists(_.nonEmpty), "Raster source types require source_uri")
  else
    require(sourceUri.forall(_.isEmpty), "Only raster source type require source_uri")
  noData.foreach { nd =>
    if (nd.length > 1) {
      require(nd.length == bandCount,
        s"Length of no data list (${nd.mkString(",")}) must match band count ($bandCount).")
      require(nd.distinct.length == 1, "No data values must be the same for all bands")
    }
  }
  order.foreach(o => require(o == "asc" || o == "desc", s"Unknown order: $o"))
  if (!LayerSpec.resamplings(resampling))
    throw new IllegalArgumentException(s"Unknown resampling method: $resampling")

  require(overviews.forall(f => f >= 2 && (f & (f - 1)) == 0) &&
    overviews == overviews.sorted.distinct,
    s"overviews must be distinct ascending powers of 2: $overviews")
  require(overviews.isEmpty || !autoOverviews,
    "give explicit overview factors OR auto_overviews, not both")
  if (!LayerSpec.resamplings(overviewResampling))
    throw new IllegalArgumentException(s"Unknown overview resampling method: $overviewResampling")
  require(overviewLayout == "internal" || overviewLayout == "external",
    s"overview_layout must be internal or external, got $overviewLayout")
  require(!cog || overviewLayout == "internal",
    "a COG carries its pyramid internally: cog=true excludes overview_layout=external")

  lazy val gridDef: Grid = GridFactory(grid)

  /** Resolved internal-overview factor chain: explicit `overviews`, or the
    * GDAL COG driver's default under `autoOverviews` — keep halving WHILE
    * the previous level is still bigger than one block, so the chain ends
    * with the first level that fits a single block (gdaladdo's `-minsize`
    * rule; a chain stopping one level early leaves zoomed-out consumers
    * on multi-tile reads). */
  lazy val overviewFactors: Seq[Int] =
    if (!autoOverviews) overviews
    else Iterator.iterate(2)(_ * 2)
      .takeWhile(f => gridDef.cols / (f / 2) > gridDef.blockSize)
      .toSeq
  lazy val pixelType: PixelType = PixelType.of(dataType, nbits, noData.flatMap(_.headOption))

  /** Destination prefix scheme, preserved verbatim from
    * `gfw_pixetl/layers.py:55-81` / `tiles/tile.py:82-97`; the srs segment
    * derives from the GRID's CRS (`layers.py:71-72`), so zoom grids land
    * under epsg-3857. */
  def prefix(srs: String = null, fmt: String = "geotiff"): String = {
    val s = Option(srs).getOrElse(
      if (gridDef.crs == "EPSG:3857") "epsg-3857" else "epsg-4326")
    s"$dataset/$version/raster/$s/${grid.replace("/", "x")}/$pixelMeaning/$fmt"
  }
}

object LayerSpec {
  val versionRegex = "^v\\d{1,8}(\\.\\d{1,3}){0,2}?$|^latest$".r

  /** The resampling kernels a spec may name, for pixels and overviews. */
  val resamplings: Set[String] = Set("nearest", "bilinear", "cubic", "cubic_spline",
    "lanczos", "gauss", "average", "mode", "max", "min", "med", "q1", "q3", "sum", "rms")

  /** Parse the reference's layer-spec JSON (`gfw_pixetl/pixetl.py:49-51`). */
  def fromJson(json: String): LayerSpec = {
    val jv = JsonMethods.parse(json)
    def str(k: String): Option[String] = (jv \ k) match {
      case JString(s) => Some(s); case _ => None
    }
    def int(k: String): Option[Int] = (jv \ k) match {
      case JInt(i) => Some(i.toInt); case JLong(l) => Some(l.toInt); case _ => None
    }
    def bool(k: String): Option[Boolean] = (jv \ k) match {
      case JBool(b) => Some(b); case _ => None
    }
    def noData: Option[Seq[Double]] = (jv \ "no_data") match {
      case JInt(i)    => Some(Seq(i.toDouble))
      case JLong(l)   => Some(Seq(l.toDouble))
      case JDouble(d) => Some(Seq(d))
      // float layers may declare a NaN sentinel as the string "nan"
      // (test_models.py:39-47)
      case JString(s) if s.equalsIgnoreCase("nan") => Some(Seq(Double.NaN))
      case JArray(xs) => Some(xs.collect {
        case JInt(i) => i.toDouble; case JLong(l) => l.toDouble; case JDouble(d) => d
      })
      case _ => None
    }
    def uris: Option[Seq[String]] = (jv \ "source_uri") match {
      case JArray(xs) => Some(xs.collect { case JString(s) => s })
      case JString(s) => Some(Seq(s))
      case _          => None
    }
    def symbology: Option[Symbology] = (jv \ "symbology") match {
      case JObject(_) =>
        val t = (jv \ "symbology" \ "type") match { case JString(s) => s; case _ => "discrete" }
        val cm = (jv \ "symbology" \ "colormap") match {
          case JObject(fields) => fields.map { case JField(k, v) =>
            def c(n: String, dflt: Int = 255): Int = (v \ n) match {
              case JInt(i) => i.toInt; case JLong(l) => l.toInt; case _ => dflt
            }
            k.toDouble -> RGBA(c("red", 0), c("green", 0), c("blue", 0), c("alpha"))
          }.toMap
          case _ => Map.empty[Double, RGBA]
        }
        Some(Symbology(t, cm))
      case _ => None
    }
    LayerSpec(
      dataset = str("dataset").getOrElse(throw new IllegalArgumentException("dataset required")),
      version = str("version").getOrElse(throw new IllegalArgumentException("version required")),
      sourceType = str("source_type").getOrElse(throw new IllegalArgumentException("source_type required")),
      pixelMeaning = str("pixel_meaning").getOrElse(throw new IllegalArgumentException("pixel_meaning required")),
      dataType = str("data_type").getOrElse(throw new IllegalArgumentException("data_type required")),
      nbits = int("nbits"),
      calc = str("calc"),
      bandCount = int("band_count").getOrElse(1),
      unionBands = bool("union_bands").getOrElse(false),
      noData = noData,
      grid = str("grid").getOrElse(throw new IllegalArgumentException("grid required")),
      rasterizeMethod = str("rasterize_method"),
      resampling = str("resampling").getOrElse("nearest"),
      sourceUri = uris,
      order = str("order"),
      symbology = symbology,
      computeStats = bool("compute_stats").getOrElse(false),
      computeHistogram = bool("compute_histogram").getOrElse(false),
      photometric = str("photometric"),
      // "overviews": [2, 4, 8] = explicit factors; true = the GDAL COG
      // driver's auto chain (halve until a level fits one block). Any
      // other shape fails LOUDLY — a silently-dropped value would publish
      // a full corpus with no pyramid and no error.
      overviews = (jv \ "overviews") match {
        case JArray(xs) => xs.map {
          case JInt(i) => i.toInt
          case JLong(l) => l.toInt
          case other => throw new IllegalArgumentException(
            s"overviews array must hold integers, got $other")
        }
        case JBool(_) | JNothing | JNull => Nil
        case other => throw new IllegalArgumentException(
          s"overviews must be an integer array or true (auto), got $other")
      },
      autoOverviews = (jv \ "overviews") match {
        case JBool(b) => b; case _ => false
      },
      overviewResampling = str("overview_resampling").getOrElse("average"),
      overviewSeamExact = bool("overview_seam_exact").getOrElse(false),
      overviewLayout = str("overview_layout").getOrElse("internal"),
      cog = bool("cog").getOrElse(false))
  }
}
