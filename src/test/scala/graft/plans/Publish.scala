package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{Caching, LayerSpec}
import graft.sources.GeoTiffSpark
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A layer job's result published the way `Pixetl.run` publishes it: the
  * tile sink ([[GeoTiffSpark.writeTiles]]), then tiles.geojson, extent and
  * status from the sink's rows ([[LayerJob.writeTilesGeojson]]). */
object Publish {

  /** What the publish wrote beside its tiles: the tiles.geojson text, the
    * extent's geometry and the status tally. */
  final case class Out(tilesGeojson: String, extent: Option[String], status: Map[String, Long]) {
    lazy val features: Seq[JsonNode] =
      new ObjectMapper().readTree(tilesGeojson).get("features").elements().asScala.toSeq
    /** Tile ids of the features, from their `<prefix>/<tile_id>.tif` names. */
    def tileIds: Set[String] = features.map(f =>
      f.get("properties").get("name").asText.split('/').last.stripSuffix(".tif")).toSet
  }

  /** Publish `result` under `dir`, which is emptied first. */
  def apply(result: LayerJob.Result, spec: LayerSpec, dir: String): Out = Caching.scoped {
    val d = Paths.get(dir)
    if (Files.exists(d)) org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
    Files.createDirectories(d)
    val written = Caching.shared(GeoTiffSpark.writeTiles(result.blocks, spec, dir))
    written.count()
    val path = s"$dir/tiles.geojson"
    val (extent, status) = LayerJob.writeTilesGeojson(spec, result.tiles, written, path)
    Out(Files.readString(Paths.get(path)), extent, status.toMap)
  }
}
