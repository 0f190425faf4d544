package graft.core

import graft.core.grid.{Bounds, Grid, LatLngGrid, WebMercatorGrid}

/** Property-style grid/type laws over seeded random samples (the upgrade of
  * the reference's hand-case tests promised in SURVEY §5; plain scalacheck
  * Gens replaced with a seeded sampler to stay inside the dependency set). */
class GridPropertySpec extends graft.SparkSpec {

  private val grids = Seq(LatLngGrid(10, 40000), LatLngGrid(1, 4000), LatLngGrid(90, 1008))
  private def samples(n: Int)(f: (Double, Double) => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (1 to n).foreach { _ =>
      f(rnd.between(-179.999, 179.999), rnd.between(-89.999, 89.999))
    }
  }

  test("every point maps to a tile whose bounds contain it (500 samples)") {
    samples(500) { (x, y) =>
      grids.foreach { g =>
        val id = g.pointTileId(x, y)
        val b = g.tileBounds(id)
        assert(x >= b.left && x <= b.right, s"$id $b x=$x")
        assert(y >= b.bottom && y <= b.top, s"$id $b y=$y")
      }
    }
  }

  test("tileId is a bijection over the index range") {
    grids.foreach { g =>
      val ids = (0L until g.numTiles).map(g.tileId)
      assert(ids.distinct.length == ids.length)
      // spot-check round trips (full scan for small grids)
      val check = if (g.numTiles < 1000) ids else ids.take(100) ++ ids.takeRight(100)
      check.foreach { id =>
        val b = g.tileBounds(id)
        assert(g.pointTileId(b.left + 1e-9, b.top - 1e-9) == id)
      }
    }
  }

  test("snap never moves a point more than one pixel, top-left biased") {
    val g = LatLngGrid(1, 4000)
    samples(300) { (x, y) =>
      val (top, left) = g.snap(y, x)
      assert(top >= y && top - y <= g.yres + 1e-9)
      assert(left <= x && x - left <= g.xres + 1e-9)
    }
  }

  test("WebMercator tile bounds tile the plane without gaps") {
    val g = WebMercatorGrid(12)
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val r = rnd.nextInt(g.tilesPerSide - 1)
      val c = rnd.nextInt(g.tilesPerSide - 1)
      val a = g.tileBounds(f"${r}%03dR_${c}%03dC")
      val right = g.tileBounds(f"${r}%03dR_${c + 1}%03dC")
      val below = g.tileBounds(f"${r + 1}%03dR_${c}%03dC")
      assert(math.abs(a.right - right.left) < 1e-6)
      assert(math.abs(a.bottom - below.top) < 1e-6)
    }
  }

  test("tilesTouching equals a brute-force filter of tilesDF (edges, slivers, off-world)") {
    // 40/4000 and 20/2000 sit on half-tile offset lattices (both axes, lat only)
    val lattices: Seq[Grid] = Seq(LatLngGrid(40, 4000), LatLngGrid(20, 2000),
      LatLngGrid(10, 40000), LatLngGrid(90, 1008)) ++ (0 to 10).map(WebMercatorGrid(_))
    val rnd = new scala.util.Random(2026)
    for (g <- lattices) {
      val tiles = g.tilesDF(spark).select("tile_id", "left", "bottom", "right", "top").collect()
        .map(r => r.getString(0) -> Bounds(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      val (wx, wy) = g match {
        case wm: WebMercatorGrid => (wm.extent, wm.extent)
        case _ => (180.0, 90.0)
      }
      val xEdges = tiles.flatMap(t => Seq(t._2.left, t._2.right)).distinct
      val yEdges = tiles.flatMap(t => Seq(t._2.bottom, t._2.top)).distinct
      // one axis: a random span past the world, a span between tile edges,
      // a zero-width line (on an edge or not) or a span wholly off the world
      def axis(w: Double, edges: Array[Double]): (Double, Double) = {
        def any = rnd.between(-1.3 * w, 1.3 * w)
        def edge = edges(rnd.nextInt(edges.length))
        val (a, b) = rnd.nextInt(5) match {
          case 0 => (any, any)
          case 1 => (edge, edge)
          case 2 => val v = if (rnd.nextBoolean()) edge else any; (v, v)
          case 3 => (edge, any)
          case _ => val v = rnd.between(1.0001 * w, 2 * w); val s = if (rnd.nextBoolean()) 1 else -1
            (s * v, s * (v + rnd.between(0, w)))
        }
        (math.min(a, b), math.max(a, b))
      }
      for (_ <- 1 to 300) {
        val (l, r) = axis(wx, xEdges)
        val (bo, t) = axis(wy, yEdges)
        val b = Bounds(l, bo, r, t)
        val expected = tiles.collect { case (id, tb) if tb.left <= b.right && b.left <= tb.right &&
          tb.bottom <= b.top && b.bottom <= tb.top => id }.toSet
        val got = g.tilesTouching(b).toSeq
        assert(got.distinct.size == got.size && got.toSet == expected, s"${g.name} $b")
      }
      // an empty JTS envelope (min 0, max -1) and an inverted one yield nothing
      assert(g.tilesTouching(Bounds(0, 0, -1, -1)).isEmpty)
      assert(g.tilesTouching(Bounds(1, 0, 0, 1)).isEmpty, g.name)
    }
  }

  test("reproject round trip is identity within tolerance") {
    import graft.functions.Reproject
    val rnd = new scala.util.Random(13)
    (1 to 300).foreach { _ =>
      val x = rnd.between(-179.999, 179.999)
      val y = rnd.between(-85.0, 85.0)
      val (mx, my) = Reproject.toWebMercator(x, y)
      val (bx, by) = Reproject.toWgs84(mx, my)
      assert(math.abs(bx - x) < 1e-9 && math.abs(by - y) < 1e-9)
    }
  }

  test("pixel type ranges are consistent with widen-compute storage") {
    PixelType.names.foreach { n =>
      val t = PixelType.of(n)
      val (lo, hi) = t.range
      assert(lo < hi)
      if (!t.isFloat) {
        val sparkMax = t.sparkType match {
          case org.apache.spark.sql.types.ByteType => Byte.MaxValue.toDouble
          case org.apache.spark.sql.types.ShortType => Short.MaxValue.toDouble
          case org.apache.spark.sql.types.IntegerType => Int.MaxValue.toDouble
          case org.apache.spark.sql.types.LongType => Long.MaxValue.toDouble
          case _ => Double.MaxValue
        }
        assert(hi <= sparkMax, s"$n storage range exceeds compute type")
      }
    }
  }

  test("calc parser round-trips random arithmetic expressions") {
    import graft.functions.Calc
    val rnd = new scala.util.Random(99)
    val ops = Seq("+", "-", "*", "/")
    def randExpr(depth: Int): String =
      if (depth == 0) (if (rnd.nextBoolean()) "A" else (rnd.nextInt(9) + 1).toString)
      else s"(${randExpr(depth - 1)} ${ops(rnd.nextInt(ops.length))} ${randExpr(depth - 1)})"
    (1 to 100).foreach { _ =>
      val e = randExpr(3)
      val ast = Calc.parse(e) // must not throw; structure is exercised via compile
      assert(ast != null)
    }
  }
}
