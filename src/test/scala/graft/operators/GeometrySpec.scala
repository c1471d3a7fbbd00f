package graft.operators

import graft.TestSpark
import graft.functions.Wkb
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Geometry-tier contract: WKB codec round-trips (both byte orders,
  * total on hostile bytes), exact predicates against hand-checked
  * cases, and both grid joins value-equal to the brute-force θ-plan
  * on a deterministic corpus. */
class GeometrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def toD(c: org.apache.spark.sql.Column) =
    transform(c, v => v.cast("double"))

  // ---- WKB codec -----------------------------------------------------

  test("WKB point and polygon round-trip exactly (integer doubles)") {
    val df = Seq(
      (1L, Seq(7L), Seq(-3L)), // point
      (2L, Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L)), // quad
      (3L, Seq(5L, 8L, 2L), Seq(1L, 9L, 6L)) // triangle
    ).toDF("id", "xs", "ys")
    val got = df.select(col("id"),
        Wkb.decode(Wkb.encode(toD(col("xs")), toD(col("ys")))).as("g"))
      .select(col("id"), col("g.gtype"),
        transform(col("g.xs"), v => v.cast("long")).as("xs"),
        transform(col("g.ys"), v => v.cast("long")).as("ys"))
      .as[(Long, Long, Seq[Long], Seq[Long])].collect().sortBy(_._1)
    assert(got(0) == ((1L, 1L, Seq(7L), Seq(-3L))))
    assert(got(1) == ((2L, 3L, Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L))))
    assert(got(2) == ((3L, 3L, Seq(5L, 8L, 2L), Seq(1L, 9L, 6L))))
  }

  test("WKB decode accepts big-endian; rejects defects as null") {
    // hand-built big-endian point (0,1): 00 00000001 x y
    val be = java.nio.ByteBuffer.allocate(21)
    be.put(0.toByte).putInt(1).putDouble(0.0).putDouble(1.0)
    val rows = Seq(
      (1L, be.array()),
      (2L, Array[Byte](9, 1, 0, 0, 0)), // bad byte-order marker
      (3L, Array[Byte](1, 1, 0, 0)), // truncated header
      (4L, null)
    ).toDF("id", "wkb")
    val got = rows.select(col("id"), Wkb.decode(col("wkb")).as("g"))
      .select(col("id"), col("g").isNull.as("bad"),
        col("g.xs").getItem(0).as("x"), col("g.ys").getItem(0).as("y"))
      .as[(Long, Boolean, Option[Double], Option[Double])]
      .collect().sortBy(_._1)
    assert(got(0) == ((1L, false, Some(0.0), Some(1.0))))
    assert(got(1)._2 && got(2)._2 && got(3)._2)
    // an unclosed polygon ring is a defect, not a geometry
    val poly = Wkb.encodeBytes(Array(0d, 10d, 5d), Array(0d, 0d, 9d))
    val broken = poly.clone()
    broken(broken.length - 1) = (broken(broken.length - 1) ^ 0x01).toByte
    val g2 = Seq((1L, broken)).toDF("id", "wkb")
      .select(Wkb.decode(col("wkb")).isNull.as("bad")).head()
    assert(g2.getBoolean(0))
    // 2 vertices: no valid WKB geometry — encode yields null
    val e2 = Seq((1L, Seq(0L, 1L), Seq(0L, 1L))).toDF("id", "xs", "ys")
      .select(Wkb.encode(toD(col("xs")), toD(col("ys"))).isNull.as("n"))
      .head()
    assert(e2.getBoolean(0))
  }

  // ---- predicates ----------------------------------------------------

  private def pip(px: Long, py: Long, xs: Seq[Long], ys: Seq[Long]): Boolean =
    Seq((px, py, xs, ys)).toDF("px", "py", "xs", "ys")
      .select(Geometry.pointInPolygon(col("px"), col("py"),
        col("xs"), col("ys")).as("in")).head().getBoolean(0)

  test("ray cast: convex, concave, and clearly-outside cases") {
    val (sq_x, sq_y) = (Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L))
    assert(pip(5, 5, sq_x, sq_y))
    assert(!pip(15, 5, sq_x, sq_y))
    assert(!pip(5, -1, sq_x, sq_y))
    // L-shape (concave): notch at the top-right quadrant
    val lx = Seq(0L, 10L, 10L, 5L, 5L, 0L)
    val ly = Seq(0L, 0L, 5L, 5L, 10L, 10L)
    assert(pip(2, 8, lx, ly)) // in the remaining arm
    assert(!pip(8, 8, lx, ly)) // in the notch
    assert(pip(8, 2, lx, ly))
  }

  private def segInt(a: (Long, Long, Long, Long),
                     b: (Long, Long, Long, Long)): Boolean =
    Seq((a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4))
      .toDF("p1x", "p1y", "p2x", "p2y", "q1x", "q1y", "q2x", "q2y")
      .select(Geometry.segmentsIntersect(col("p1x"), col("p1y"),
        col("p2x"), col("p2y"), col("q1x"), col("q1y"),
        col("q2x"), col("q2y")).as("i")).head().getBoolean(0)

  test("segment intersection: proper, touch, collinear, disjoint") {
    assert(segInt((0, 0, 10, 10), (0, 10, 10, 0))) // proper cross
    assert(!segInt((0, 0, 10, 0), (0, 1, 10, 1))) // parallel
    assert(segInt((0, 0, 10, 0), (10, 0, 20, 5))) // endpoint touch
    assert(segInt((0, 0, 10, 0), (5, 0, 15, 0))) // collinear overlap
    assert(!segInt((0, 0, 10, 0), (11, 0, 20, 0))) // collinear disjoint
    assert(segInt((0, 0, 10, 0), (5, -5, 5, 5))) // T crossing through
    assert(segInt((0, 0, 10, 0), (5, 0, 5, 5))) // T touch mid-edge
    assert(!segInt((0, 0, 10, 0), (5, 1, 5, 5))) // hovering above
  }

  private def polysInt(xsA: Seq[Long], ysA: Seq[Long], xsB: Seq[Long],
                       ysB: Seq[Long]): Boolean =
    Seq((xsA, ysA, xsB, ysB)).toDF("xa", "ya", "xb", "yb")
      .select(Geometry.polygonsIntersect(col("xa"), col("ya"),
        col("xb"), col("yb")).as("i")).head().getBoolean(0)

  test("polygon intersects: overlap, containment, touch, disjoint") {
    val (sx, sy) = (Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L))
    assert(polysInt(sx, sy, Seq(5L, 15L, 15L, 5L), Seq(5L, 5L, 15L, 15L)))
    assert(polysInt(sx, sy, Seq(2L, 4L, 4L, 2L), Seq(2L, 2L, 4L, 4L))) // B in A
    assert(polysInt(Seq(2L, 4L, 4L, 2L), Seq(2L, 2L, 4L, 4L), sx, sy)) // A in B
    assert(polysInt(sx, sy, Seq(10L, 20L, 20L, 10L), Seq(0L, 0L, 10L, 10L))) // shared edge
    assert(polysInt(sx, sy, Seq(10L, 20L, 15L), Seq(10L, 10L, 20L))) // vertex touch
    assert(!polysInt(sx, sy, Seq(12L, 20L, 20L, 12L), Seq(12L, 12L, 20L, 20L)))
  }

  test("shoelace area2 and centroid numerators: hand-checked squares") {
    val df = Seq(
      // CCW 10×10 square at origin: A=100 → area2=200; centroid (5,5)
      // → numerators 6·A·c = 3000
      (1L, Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L)),
      // right triangle (0,0)(4,0)(0,3): A=6 → area2=12; centroid
      // (4/3, 1) → cx_num = 6·6·4/3 = 48, cy_num = 36
      (2L, Seq(0L, 4L, 0L), Seq(0L, 0L, 3L))
    ).toDF("id", "xs", "ys")
    val got = df
      .withColumn("c", Geometry.polygonCentroidNum(col("xs"), col("ys")))
      .select(col("id"), Geometry.polygonArea2(col("xs"), col("ys")),
        col("c.cx_num"), col("c.cy_num"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 200L, 3000L, 3000L)))
    assert(got(1) == ((2L, 12L, 48L, 36L)))
    // clockwise ring: area2 flips sign, centroid numerators with it —
    // the ratio (true centroid) is orientation-independent
    val cw = Seq((3L, Seq(0L, 0L, 10L, 10L), Seq(0L, 10L, 10L, 0L)))
      .toDF("id", "xs", "ys")
      .select(Geometry.polygonArea2(col("xs"), col("ys")).as("a"))
      .head().getLong(0)
    assert(cw == -200L)
  }

  test("native predicates ≡ their higher-order-function twins") {
    // the HOF forms ARE the formulas the Scaladoc argues about; the
    // native loops must agree on every pair of a varied corpus
    // (touching, containing, overlapping, disjoint — the rhombi tile
    // a small window so all classes occur)
    val polys = rhombi(40, (53, 71), 5).toDF("id", "xs", "ys")
    val a = polys.select(col("id").as("aid"), col("xs").as("xa"),
      col("ys").as("ya"))
    val b = rhombi(25, (97, 41), 7).toDF("id", "xs", "ys")
      .select(col("id").as("bid"), col("xs").as("xb"), col("ys").as("yb"))
    val diff = a.crossJoin(b)
      .select(
        Geometry.polygonsIntersect(col("xa"), col("ya"),
          col("xb"), col("yb")).as("native"),
        Geometry.polygonsIntersectHof(col("xa"), col("ya"),
          col("xb"), col("yb")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0L)
    val pts = (1 to 120).map(i =>
      (i * 13L % 200L, i * 29L % 200L)).toDF("px", "py")
    val pipDiff = pts.crossJoin(polys)
      .select(
        Geometry.pointInPolygon(col("px"), col("py"),
          col("xs"), col("ys")).as("native"),
        Geometry.pointInPolygonHof(col("px"), col("py"),
          col("xs"), col("ys")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(pipDiff == 0L)
  }

  // ---- joins ≡ brute force -------------------------------------------

  /** Deterministic corpus: the q227/q228 rhombus family at small n. */
  private def rhombi(n: Int, mult: (Long, Long), base: Long) =
    (1 to n).map { i =>
      val k = i.toLong
      val (cx, cy) = (k * mult._1 % 200, k * mult._2 % 200)
      val (ea, eb, ec, ed) =
        (base + k % 17, base + k % 13, base + k % 11, base + k % 19)
      (k, Seq(cx + ea, cx, cx - ec, cx), Seq(cy, cy + eb, cy, cy - ed))
    }

  test("polygon z-order layout: a window probe opens a fraction of files") {
    // the q232 layout end-to-end: polygons stored with their bbox
    // center, table clustered by z_order(zx, zy), per-file zone maps
    // prune a 2-D window probe on BOTH axes — the GeoParquet-style
    // spatial-partitioning contract, values unchanged by the layout
    import graft.gdl.TableStore
    val polys = (1L to 2048L).map { k =>
      val (cx, cy) = (k * 53 % 2048, k * 71 % 2048)
      (k, cx, cy, Seq(cx + 5 + k % 17, cx, cx - (5 + k % 11), cx),
        Seq(cy, cy + 5 + k % 13, cy, cy - (5 + k % 19)))
    }.toDF("poly_id", "zx", "zy", "xs", "ys")
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("geozorder").toString,
      partitioning = Map.empty)
    store.append("p", polys)
    store.rewriteClustered("p",
      graft.functions.ZOrder2.zorder(col("zx"), col("zy"), 11), nFiles = 16)
    val window = col("zx").between(512L, 767L) && col("zy").between(512L, 767L)
    val (kept, total) = store.scanFileCounts("p", window)
    assert(total >= 16, s"expected >= 16 clustered files, got $total")
    assert(kept <= total / 2,
      s"z-layout window probe should prune, read $kept/$total")
    // pruning never changes values: the pruned scan feeds the exact
    // PIP join with identical results to the unpruned relation
    val pts = (1 to 400).map(i =>
      (i.toLong, i * 13L % 2048L, i * 29L % 2048L)).toDF("p_id", "px", "py")
    def pairs(rel: org.apache.spark.sql.DataFrame) =
      Geometry.pointInPolygonJoin(pts, rel.select("poly_id", "xs", "ys"),
        cell = 64L).as[(Long, Long)].collect().toSet
    assert(pairs(store.scan("p", window).get) ==
      pairs(store.read("p").get.filter(window)))
  }

  test("pointInPolygonJoin equals the brute-force θ-join") {
    val polys = rhombi(60, (53, 71), 5).toDF("poly_id", "xs", "ys")
    val pts = (1 to 150).map(i =>
      (i.toLong, i * 13L % 200L, i * 29L % 200L)).toDF("p_id", "px", "py")
    val got = Geometry.pointInPolygonJoin(pts, polys, cell = 16L)
      .as[(Long, Long)].collect().toSet
    val brute = pts.crossJoin(polys)
      .filter(Geometry.pointInPolygon(col("px"), col("py"),
        col("xs"), col("ys")))
      .select(col("poly_id"), col("p_id")).as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
  }

  test("polygonIntersectJoin equals the brute-force θ-join") {
    val a = rhombi(50, (53, 71), 5)
      .toDF("a_id", "axs", "ays")
    val b = rhombi(20, (97, 41), 7)
      .toDF("b_id", "bxs", "bys")
    val got = Geometry.polygonIntersectJoin(a, b, cell = 32L)
      .as[(Long, Long)].collect().toSet
    val brute = a.crossJoin(b)
      .filter(Geometry.polygonsIntersect(col("axs"), col("ays"),
        col("bxs"), col("bys")))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
  }

  test("polygonWithin: strict containment semantics + join ≡ brute force") {
    val (bx, by) = (Seq(0L, 20L, 20L, 0L), Seq(0L, 0L, 20L, 20L))
    // strictly inside
    assert(Seq((Seq(5L, 8L, 5L), Seq(5L, 8L, 12L), bx, by))
      .toDF("xa", "ya", "xb", "yb")
      .select(Geometry.polygonWithin(col("xa"), col("ya"),
        col("xb"), col("yb"))).head().getBoolean(0))
    // touching B's boundary from inside: NOT properly within
    assert(!Seq((Seq(0L, 8L, 5L), Seq(5L, 8L, 12L), bx, by))
      .toDF("xa", "ya", "xb", "yb")
      .select(Geometry.polygonWithin(col("xa"), col("ya"),
        col("xb"), col("yb"))).head().getBoolean(0))
    // overlapping or outside: not within
    assert(!Seq((Seq(15L, 25L, 15L), Seq(15L, 25L, 25L), bx, by))
      .toDF("xa", "ya", "xb", "yb")
      .select(Geometry.polygonWithin(col("xa"), col("ya"),
        col("xb"), col("yb"))).head().getBoolean(0))
    // containment the other way round: not within
    assert(!Seq((Seq(-5L, 25L, 25L, -5L), Seq(-5L, -5L, 25L, 25L), bx, by))
      .toDF("xa", "ya", "xb", "yb")
      .select(Geometry.polygonWithin(col("xa"), col("ya"),
        col("xb"), col("yb"))).head().getBoolean(0))
    // join ≡ brute force on corpora sized so containments exist
    val a = rhombi(80, (53, 71), 2).toDF("a_id", "axs", "ays")
    val b = rhombi(30, (97, 41), 20).toDF("b_id", "bxs", "bys")
    val got = Geometry.polygonWithinJoin(a, b, cell = 32L)
      .as[(Long, Long)].collect().toSet
    val brute = a.crossJoin(b)
      .filter(Geometry.polygonWithin(col("axs"), col("ays"),
        col("bxs"), col("bys")))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
  }

  // ---- multi-ring tier (holes + MultiPolygon, r14 VERDICT #3/#4) ----

  test("ring-aware WKB: holed polygon and MultiPolygon round-trip") {
    val df = Seq(
      // 10×10 square with a 2×2 hole: Polygon, 2 rings
      (1L, Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L),
        Seq(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L), Seq(4L, 4L), Seq(2L)),
      // two disjoint triangles: MultiPolygon, 2 members × 1 ring
      (2L, Seq(0L, 5L, 0L, 20L, 25L, 20L),
        Seq(0L, 0L, 5L, 20L, 20L, 25L), Seq(3L, 3L), Seq(1L, 1L)),
      // plain triangle: Polygon, 1 ring
      (3L, Seq(0L, 8L, 0L), Seq(0L, 0L, 8L), Seq(3L), Seq(1L))
    ).toDF("id", "xs", "ys", "rl", "pl")
    val got = df.select(col("id"),
        Wkb.decodeGeom(Wkb.encodeGeom(toD(col("xs")), toD(col("ys")),
          col("rl"), col("pl"))).as("g"))
      .select(col("id"), col("g.gtype"),
        transform(col("g.xs"), v => v.cast("long")).as("xs"),
        transform(col("g.ys"), v => v.cast("long")).as("ys"),
        col("g.ring_lens"), col("g.poly_lens"))
      .as[(Long, Long, Seq[Long], Seq[Long], Seq[Long], Seq[Long])]
      .collect().sortBy(_._1)
    assert(got(0) == ((1L, 3L, Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L),
      Seq(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L), Seq(4L, 4L), Seq(2L))))
    assert(got(1) == ((2L, 6L, Seq(0L, 5L, 0L, 20L, 25L, 20L),
      Seq(0L, 0L, 5L, 20L, 20L, 25L), Seq(3L, 3L), Seq(1L, 1L))))
    assert(got(2)._2 == 3L && got(2)._5 == Seq(3L))
    // the plain decoder reads the ring-structured Polygon's OUTER ring
    val outer = Seq((Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L),
        Seq(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L)))
      .toDF("xs", "ys")
      .select(Wkb.decode(Wkb.encodeGeom(toD(col("xs")), toD(col("ys")),
        array(lit(4L), lit(4L)), array(lit(2L)))).as("g"))
      .select(transform(col("g.xs"), v => v.cast("long")).as("xs"))
      .as[Seq[Long]].head()
    assert(outer == Seq(0L, 10L, 10L, 0L))
  }

  test("ring-aware WKB encode/decode reject defects as null, stay total") {
    def enc(xs: Seq[Long], ys: Seq[Long], rl: Seq[Long], pl: Seq[Long]) =
      Seq((xs, ys, rl, pl)).toDF("xs", "ys", "rl", "pl")
        .select(Wkb.encodeGeom(toD(col("xs")), toD(col("ys")),
          col("rl"), col("pl")).isNull.as("n")).head().getBoolean(0)
    assert(enc(Seq(0L, 1L), Seq(0L, 1L), Seq(2L), Seq(1L))) // ring < 3
    assert(enc(Seq(0L, 1L, 2L), Seq(0L, 1L, 2L), Seq(4L), Seq(1L))) // sum off
    assert(enc(Seq(0L, 1L, 2L), Seq(0L, 1L, 2L), Seq(3L), Seq(2L))) // polys off
    assert(enc(Seq(0L, 1L, 2L), Seq(0L, 1L), Seq(3L), Seq(1L))) // xs≠ys
    // truncation battery: every prefix of a valid MultiPolygon decodes
    // to null or the full value, never throws
    val full = Wkb.encodeGeomBytes(
      Array(0d, 5d, 0d, 20d, 25d, 20d), Array(0d, 0d, 5d, 20d, 20d, 25d),
      Array(3L, 3L), Array(1L, 1L))
    for (n <- 0 until full.length)
      assert(graft.functions.Wkb.decodeGeomBytes(full.take(n)) == null,
        s"prefix $n")
    assert(graft.functions.Wkb.decodeGeomBytes(full) != null)
    // an unclosed HOLE ring is a defect even when the outer ring closes
    val holed = Wkb.encodeGeomBytes(
      Array(0d, 10d, 10d, 0d, 4d, 6d, 6d, 4d),
      Array(0d, 0d, 10d, 10d, 4d, 4d, 6d, 6d), Array(4L, 4L), Array(2L))
    val broken = holed.clone()
    broken(broken.length - 1) = (broken(broken.length - 1) ^ 0x01).toByte
    assert(graft.functions.Wkb.decodeGeomBytes(broken) == null)
  }

  private def pipRings(px: Long, py: Long, xs: Seq[Long], ys: Seq[Long],
                       rl: Seq[Long]): Boolean =
    Seq((px, py, xs, ys, rl)).toDF("px", "py", "xs", "ys", "rl")
      .select(Geometry.pointInRings(col("px"), col("py"),
        col("xs"), col("ys"), col("rl")).as("in")).head().getBoolean(0)

  test("even-odd rings: annulus in, hole out, multipolygon members") {
    val hx = Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L)
    val hy = Seq(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L)
    assert(pipRings(2, 2, hx, hy, Seq(4L, 4L))) // annulus
    assert(!pipRings(5, 5, hx, hy, Seq(4L, 4L))) // in the hole
    assert(!pipRings(15, 5, hx, hy, Seq(4L, 4L))) // outside
    // single ring ≡ pointInPolygon semantics
    assert(pipRings(5, 5, Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L),
      Seq(4L)))
    // two disjoint members: inside either is inside
    val mx = Seq(0L, 5L, 0L, 20L, 25L, 20L)
    val my = Seq(0L, 0L, 5L, 20L, 20L, 25L)
    assert(pipRings(1, 1, mx, my, Seq(3L, 3L)))
    assert(pipRings(21, 21, mx, my, Seq(3L, 3L)))
    assert(!pipRings(12, 12, mx, my, Seq(3L, 3L)))
  }

  test("even-odd rings ≡ per-ring parity brute force (incl. hole points)") {
    // reference: XOR of single-ring ray casts — even-odd composition
    val rnd = new scala.util.Random(1515)
    for (_ <- 1 to 200) {
      val cx = rnd.nextInt(40).toLong; val cy = rnd.nextInt(40).toLong
      val e = 5L + rnd.nextInt(10)
      val h = 1L + rnd.nextInt(3)
      val oxs = Seq(cx + e, cx, cx - e, cx); val oys = Seq(cy, cy + e, cy, cy - e)
      val hxs = Seq(cx + h, cx, cx - h, cx); val hys = Seq(cy, cy + h, cy, cy - h)
      val px = rnd.nextInt(60).toLong - 10; val py = rnd.nextInt(60).toLong - 10
      val expected =
        graft.functions.GeomPred.pointInPolygon(px, py, oxs.toArray, oys.toArray) ^
          graft.functions.GeomPred.pointInPolygon(px, py, hxs.toArray, hys.toArray)
      val got = graft.functions.GeomPred.pointInRings(px, py,
        (oxs ++ hxs).toArray, (oys ++ hys).toArray, Array(4L, 4L))
      assert(got == expected, s"($px,$py) c=($cx,$cy) e=$e h=$h")
    }
  }

  test("pointWithinDist: interior, edge range, corner range, hole interior") {
    val sq = (Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L))
    def near(px: Long, py: Long, rsq: Long,
             xs: Seq[Long] = sq._1, ys: Seq[Long] = sq._2,
             rl: Seq[Long] = Seq(4L)): Boolean =
      graft.functions.GeomPred.pointWithinDist(px, py, xs.toArray,
        ys.toArray, rl.toArray, rsq)
    assert(near(5, 5, 0)) // interior at any radius
    assert(near(12, 5, 4)) // 2 from the right edge, r=2
    assert(!near(13, 5, 4)) // 3 from the right edge, r=2
    assert(near(11, 11, 2)) // corner diagonal √2 ≤ √2
    assert(!near(11, 11, 1)) // corner diagonal √2 > 1
    assert(near(0, -3, 9)) // straight below a vertex
    // point in a HOLE measures to the hole boundary
    val hx = Seq(0L, 20L, 20L, 0L, 8L, 12L, 12L, 8L)
    val hy = Seq(0L, 0L, 20L, 20L, 8L, 8L, 12L, 12L)
    assert(near(10, 10, 4, hx, hy, Seq(4L, 4L))) // 2 from hole edge
    assert(!near(10, 10, 1, hx, hy, Seq(4L, 4L))) // 2 > 1
  }

  test("ringsIntersect: hole face excludes, overlap/touch include") {
    val hx = Array(0L, 20L, 20L, 0L, 6L, 14L, 14L, 6L)
    val hy = Array(0L, 0L, 20L, 20L, 6L, 6L, 14L, 14L)
    val hl = Array(4L, 4L)
    def sq(x0: Long, y0: Long, x1: Long, y1: Long) =
      (Array(x0, x1, x1, x0), Array(y0, y0, y1, y1), Array(4L))
    def ri(a: (Array[Long], Array[Long], Array[Long]),
           bx: Array[Long], by: Array[Long], bl: Array[Long]) =
      graft.functions.GeomPred.ringsIntersect(a._1, a._2, a._3, bx, by, bl)
    assert(!ri(sq(8, 8, 12, 12), hx, hy, hl)) // entirely in the hole
    assert(ri(sq(2, 2, 4, 4), hx, hy, hl)) // in the annulus
    assert(ri(sq(5, 5, 9, 9), hx, hy, hl)) // straddles the hole edge
    assert(ri(sq(-5, -5, 30, 30), hx, hy, hl)) // contains the whole thing
    assert(!ri(sq(30, 30, 40, 40), hx, hy, hl)) // disjoint outside
    assert(ri(sq(20, 0, 30, 10), hx, hy, hl)) // shared outer edge
  }

  test("WKT codec: exact text both ways, total on hostile strings") {
    import graft.functions.WktCodec
    // format: spec text with closed rings, nested multipolygon parens
    assert(WktCodec.format(Array(7L), Array(-3L), Array(1L), Array(1L))
      == "POINT (7 -3)")
    val holed = WktCodec.format(
      Array(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L),
      Array(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L), Array(4L, 4L), Array(2L))
    assert(holed == "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), " +
      "(4 4, 6 4, 6 6, 4 6, 4 4))")
    val multi = WktCodec.format(
      Array(0L, 5L, 0L, 20L, 25L, 20L), Array(0L, 0L, 5L, 20L, 20L, 25L),
      Array(3L, 3L), Array(1L, 1L))
    assert(multi == "MULTIPOLYGON (((0 0, 5 0, 0 5, 0 0)), " +
      "((20 20, 25 20, 20 25, 20 20)))")
    // invalid shapes format to null (the encodeGeom validity rules)
    assert(WktCodec.format(Array(0L, 1L), Array(0L, 1L),
      Array(2L), Array(1L)) == null)
    // parse: round-trips, whitespace/case tolerant
    for (w <- Seq(holed, multi, "POINT (7 -3)",
        "  multiPolygon ( ( (0 0,5 0,0 5,0 0) ) )  ")) {
      val p = WktCodec.parse(w)
      assert(p != null, w)
      val q = WktCodec.parse(WktCodec.format(p._2, p._3, p._4, p._5))
      // values round-trip exactly; a ONE-member MultiPolygon
      // normalizes to POLYGON on format (the Wkb.encodeGeom rule)
      val wantTag = if (p._1 == 6L && p._5.length == 1) 3L else p._1
      assert(q._1 == wantTag && q._2.sameElements(p._2) &&
        q._3.sameElements(p._3) && q._4.sameElements(p._4) &&
        q._5.sameElements(p._5), w)
    }
    // hostile strings: null, never a throw
    for (bad <- Seq("", "POLYGON", "POLYGON (", "POLYGON (())",
        "POLYGON ((0 0, 1 0, 0 1))",          // unclosed ring
        "POLYGON ((0 0, 1 0, 0 1, 0 0)",      // unbalanced
        "POLYGON ((0 0, 1 0, 0 1, 0 0)) x",   // trailing junk
        "POLYGON ((0 0, 1 0, 0 1.5, 0 0))",   // non-integer
        "CIRCLE (0 0, 5)", "POINT (a b)", "POINT (1 2 3)"))
      assert(WktCodec.parse(bad) == null, bad)
    // fuzz: random bytes and mutated valid text stay total
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 300) {
      WktCodec.parse(rnd.nextString(rnd.nextInt(40)))
      val m = holed.toCharArray
      m(rnd.nextInt(m.length)) = (rnd.nextInt(96) + 32).toChar
      WktCodec.parse(new String(m)) // parse-or-null, never throw
    }
  }

  test("regionArea2: outer minus holes, orientation-insensitive, total") {
    def ra(xs: Seq[Long], ys: Seq[Long], rl: Seq[Long]): Option[Long] = {
      val v = graft.functions.GeomPred.regionArea2(xs.toArray, ys.toArray,
        rl.toArray)
      if (v == Long.MinValue) None else Some(v)
    }
    // 10×10 square minus 2×2 hole: 2·(100−4) = 192
    val hx = Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L)
    val hy = Seq(0L, 0L, 10L, 10L, 4L, 4L, 6L, 6L)
    assert(ra(hx, hy, Seq(4L, 4L)).contains(192L))
    // hole wound the other way: same area (orientation-insensitive)
    val hxr = Seq(0L, 10L, 10L, 0L, 4L, 6L, 6L, 4L)
    val hyr = Seq(0L, 0L, 10L, 10L, 6L, 6L, 4L, 4L)
    assert(ra(hxr, hyr, Seq(4L, 4L)).contains(192L))
    // no holes ≡ |polygonArea2|
    assert(ra(Seq(0L, 10L, 10L, 0L), Seq(0L, 0L, 10L, 10L), Seq(4L))
      .contains(200L))
    // malformed ring structure → null, not a throw
    assert(ra(hx, hy, Seq(4L, 9L)).isEmpty)
    assert(ra(hx, hy, Seq.empty).isEmpty)
    // and the Column form agrees inside a plan
    val got = Seq((hx, hy)).toDF("xs", "ys")
      .select(Geometry.regionArea2(col("xs"), col("ys"),
        array(lit(4L), lit(4L))).as("a")).head().getLong(0)
    assert(got == 192L)
  }

  test("ringsIntersectJoin equals brute force; hole faces excluded") {
    // holed squares vs micro-squares, some of which land in holes
    val a = (1 to 40).map { i =>
      val cx = i * 11L % 150; val cy = i * 17L % 150
      (i.toLong,
        Seq(cx, cx + 20L, cx + 20L, cx, cx + 6L, cx + 14L, cx + 14L, cx + 6L),
        Seq(cy, cy, cy + 20L, cy + 20L, cy + 6L, cy + 6L, cy + 14L, cy + 14L),
        Seq(4L, 4L))
    }.toDF("a_id", "axs", "ays", "alens")
    val b = (1 to 120).map { i =>
      val cx = i * 7L % 170; val cy = i * 13L % 170
      (i.toLong, Seq(cx, cx + 3L, cx + 3L, cx),
        Seq(cy, cy, cy + 3L, cy + 3L), Seq(4L))
    }.toDF("b_id", "bxs", "bys", "blens")
    val got = Geometry.ringsIntersectJoin(a, b, cell = 16L)
      .as[(Long, Long)].collect().toSet
    val brute = a.crossJoin(b)
      .filter(Geometry.ringsIntersect(col("axs"), col("ays"), col("alens"),
        col("bxs"), col("bys"), col("blens")))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(got == brute && got.nonEmpty)
    // at least one micro-square sits strictly inside some hole AND
    // inside the outer bbox — prove the parity rejection has work to
    // do: bbox-overlapping pairs strictly exceed intersecting pairs
    val bboxPairs = a.crossJoin(b).filter(
        array_min(col("axs")) <= array_max(col("bxs")) &&
        array_min(col("bxs")) <= array_max(col("axs")) &&
        array_min(col("ays")) <= array_max(col("bys")) &&
        array_min(col("bys")) <= array_max(col("ays")))
      .select(col("a_id"), col("b_id")).as[(Long, Long)].collect().toSet
    assert(got.subsetOf(bboxPairs) && got != bboxPairs)
  }

  test("pointInRingsJoin and pointNearRingsJoin equal brute force") {
    val polys = rhombi(60, (53, 71), 5).map { case (k, xs, ys) =>
      val h = 1L + k % 3
      val cx = xs(1); val cy = ys(0) // rhombus center
      (k, xs ++ Seq(cx + h, cx, cx - h, cx),
        ys ++ Seq(cy, cy + h, cy, cy - h), Seq(4L, 4L))
    }.toDF("poly_id", "xs", "ys", "ring_lens")
    val pts = (1 to 150).map(i =>
      (i.toLong, i * 13L % 200L, i * 29L % 200L)).toDF("p_id", "px", "py")
    val gotIn = Geometry.pointInRingsJoin(pts, polys, cell = 16L)
      .as[(Long, Long)].collect().toSet
    val bruteIn = pts.crossJoin(polys)
      .filter(Geometry.pointInRings(col("px"), col("py"),
        col("xs"), col("ys"), col("ring_lens")))
      .select(col("poly_id"), col("p_id")).as[(Long, Long)].collect().toSet
    assert(gotIn == bruteIn && gotIn.nonEmpty)
    val gotNear = Geometry.pointNearRingsJoin(pts, polys, cell = 16L, r = 7L)
      .as[(Long, Long)].collect().toSet
    val bruteNear = pts.crossJoin(polys)
      .filter(Geometry.pointWithinDist(col("px"), col("py"),
        col("xs"), col("ys"), col("ring_lens"), 49L))
      .select(col("poly_id"), col("p_id")).as[(Long, Long)].collect().toSet
    assert(gotNear == bruteNear && gotNear.nonEmpty && gotNear != gotIn)
  }
}
