package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial operators (SURVEY.md §2 section M): grid-blocked proximity
  * analytics over planar entity coordinates.
  *
  * The warehouse has no native coordinates, so each entity gets a
  * deterministic planar position synthesized from md5 of its key — exact
  * integer METERS in a 1 000 km × 1 000 km square, identical on both
  * engines (`conv(md5)` ↔ DuckDB `CAST('0x'||substr(md5) AS BIGINT)`,
  * the established cross-engine hash idiom). Planar integer coordinates
  * are deliberate: every distance is the exact long dx²+dy² — no trig, so
  * none of the libm 1-ulp divergence a haversine oracle would risk — and
  * the spatial-join SHAPE (grid blocking) is identical to the geodetic
  * case.
  *
  * Scale stance: all three keys block on the 100 km grid cell — a spatial
  * LSH. Candidate volume per probe is bounded by 3×3-neighborhood
  * occupancy, never corpus²; at growing entity counts production shrinks
  * the cell edge to hold occupancy constant (the `Ivf.autoNlist` sizing
  * argument in space). Cell-grain aggregates are ≤ grid² rows at any
  * corpus size.
  */
object Geo {
  type Q = (SparkSession, String) => DataFrame

  /** 1 000 km square, 100 km cells ⇒ 10×10 grid. */
  private val Side = 1000000L
  private val Cell = 100000L

  /** Fixed simple NON-CONVEX geofence polygon (integer meters inside the
    * square; the concavity at (450k, 600k) makes the even-odd parity
    * load-bearing — a convex test would pass with a broken crossing
    * count). GeoSpec verifies simplicity (no self-intersection) and
    * cross-checks containment against JDK Path2D. */
  val PolyVerts: Seq[(Long, Long)] = Seq(
    (100000L, 200000L), (500000L, 100000L), (900000L, 400000L),
    (700000L, 900000L), (450000L, 600000L), (200000L, 800000L))

  /** The even-odd crossing COUNT as one generated SQL expression over
    * integer point columns `px`/`py` — identical text on both engines.
    * Per non-horizontal edge: straddle test on y, then the division-free
    * cross-product comparison with (y2−y1)'s sign resolved at build time. */
  def polyCrossingsExpr(px: String, py: String): String = {
    val edges = PolyVerts.zip(PolyVerts.tail :+ PolyVerts.head)
    edges.collect { case ((x1, y1), (x2, y2)) if y1 != y2 =>
      val cross = s"(${x2 - x1} * ($py - $y1) - ($px - $x1) * ${y2 - y1})"
      val cmp = if (y2 - y1 > 0) s"$cross > 0" else s"$cross < 0"
      s"(CASE WHEN (($y1 > $py) <> ($y2 > $py)) AND ($cmp) THEN 1 ELSE 0 END)"
    }.mkString(" + ")
  }

  /** Deterministic planar meters from the entity key: 48 md5 bits mod the
    * square side. `tag` disambiguates entity type and axis. */
  // r13 (guide §4): every synthesized coordinate hashes through the
  // codegen md5_bits kernel instead of the interpreted
  // conv(substring(md5(...))) chain — identical values (DigestSpec pins
  // the chain equality), no per-row hex-string/parse churn. Resolved from
  // the Kernels catalogue, which the extension injects and
  // SparkEntry.queries installs on a session built without it.
  private def coord(tag: String, key: Column): Column =
    pmod(call_function("md5_bits",
      concat(lit(tag), key.cast("string")), lit(1), lit(12)), lit(Side))

  private def coordSql(tag: String, key: String): String =
    s"CAST(concat('0x', substring(md5(concat('$tag', CAST($key AS VARCHAR))), 1, 12)) AS BIGINT) % $Side"

  /** Suppliers / customers with coordinates and grid cells. */
  private def suppliers(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(col("s_suppkey"),
      coord("gxs:", col("s_suppkey")).as("sx"),
      coord("gys:", col("s_suppkey")).as("sy"))
      .withColumn("scx", expr(s"sx div $Cell"))
      .withColumn("scy", expr(s"sy div $Cell"))

  private def customers(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"),
      coord("gxc:", col("c_custkey")).as("cx"),
      coord("gyc:", col("c_custkey")).as("cy"))
      .withColumn("ccx", expr(s"cx div $Cell"))
      .withColumn("ccy", expr(s"cy div $Cell"))

  private val suppliersSql: String =
    s"""SELECT s_suppkey,
       |       ${coordSql("gxs:", "s_suppkey")} AS sx,
       |       ${coordSql("gys:", "s_suppkey")} AS sy
       |FROM supplier""".stripMargin

  private val customersSql: String =
    s"""SELECT c_custkey,
       |       ${coordSql("gxc:", "c_custkey")} AS cx,
       |       ${coordSql("gyc:", "c_custkey")} AS cy
       |FROM customer""".stripMargin

  // ---- geodetic variant (added r9, VERDICT item 7) -------------------
  // Real lat/lon positions: micro-degree integers from md5 (lat in
  // [-60°, 60°), lon in [-180°, 180°)), projected ONCE to integer-meter
  // ECEF coordinates on the R = 6 371 000 m sphere — floor-quantized
  // libm, after which every distance is EXACT long arithmetic (the
  // graph_hits quantize-then-exact discipline; coordinate quantization
  // costs ≤ √3 m, irrelevant at the 100 km work scale and identical on
  // both engines). Chord² is the argmin key (monotone in arc), and the
  // great-circle readout arc = 2R·asin(chord/2R) is one IEEE expression
  // of the exact chord² (the adamic_adar libm argument, floored to 1 m).
  private val EarthR = 6371000.0
  /** Exact floor division of micro-degrees by the cell size, negative-safe
    * on BOTH engines (Spark `div`/DuckDB `//` truncate toward zero). */
  private def cellIdx(c: Column, cell: Long): Column =
    ((c - ((c % cell) + cell) % cell) / cell).cast("long")
  private def cellIdxSql(e: String, cell: Long): String =
    s"CAST(($e - (($e % $cell) + $cell) % $cell) / $cell AS BIGINT)"

  /** 5° × 5° blocking cells (micro-degrees). Completeness: a true nearest
    * at arc D implies Δlat ≤ D/111.19 km° and Δlon ≤ D/(111.19·cos φ)°;
    * with |φ| < 60° ⇒ cos φ > 0.5, both stay < 5° whenever D ≤ 278 km —
    * so the 3×3 neighborhood contains every candidate within 278 km and
    * the blocked argmin is globally exact there (the `exact` flag, with a
    * 1 km buffer dwarfing the ≤ 22 m chord-vs-arc gap and the ≤ √3 m
    * quantization). Past 278 km the answer is the declared blocked
    * approximation — the geo_knn_grid envelope, carried as a column. */
  private val GeoCellMicro = 5000000L

  private def geodetic(tagLat: String, tagLon: String, key: Column): Seq[Column] = {
    def bits(tag: String, from: Int) =
      call_function("md5_bits",
        concat(lit(tag), key.cast("string")), lit(from), lit(12))
    val lat = pmod(bits(tagLat, 1), lit(120000000L)) - lit(60000000L)
    val lon = pmod(bits(tagLon, 1), lit(360000000L)) - lit(180000000L)
    Seq(lat.as("lat"), lon.as("lon"))
  }
  private def geodeticSql(tagLat: String, tagLon: String, key: String): String = {
    def bits(tag: String) =
      s"CAST(concat('0x', substring(md5(concat('$tag', CAST($key AS VARCHAR))), 1, 12)) AS BIGINT)"
    s"${bits(tagLat)} % 120000000 - 60000000 AS lat, ${bits(tagLon)} % 360000000 - 180000000 AS lon"
  }
  /** Integer-meter ECEF from micro-degrees — op order mirrored in SQL. */
  private def ecefCols(): Seq[Column] = {
    val latr = col("lat").cast("double") / 1e6 * math.Pi / 180.0
    val lonr = col("lon").cast("double") / 1e6 * math.Pi / 180.0
    Seq(floor(lit(EarthR) * cos(latr) * cos(lonr)).cast("long").as("ex"),
      floor(lit(EarthR) * cos(latr) * sin(lonr)).cast("long").as("ey"),
      floor(lit(EarthR) * sin(latr)).cast("long").as("ez"),
      cellIdx(col("lat"), GeoCellMicro).as("clat"),
      cellIdx(col("lon"), GeoCellMicro).as("clon"))
  }
  private val ecefSql: String = {
    val latr = "CAST(lat AS DOUBLE) / 1e6 * pi() / 180.0"
    val lonr = "CAST(lon AS DOUBLE) / 1e6 * pi() / 180.0"
    s"""CAST(floor(6371000.0 * cos($latr) * cos($lonr)) AS BIGINT) AS ex,
       |CAST(floor(6371000.0 * cos($latr) * sin($lonr)) AS BIGINT) AS ey,
       |CAST(floor(6371000.0 * sin($latr)) AS BIGINT) AS ez,
       |${cellIdxSql("lat", GeoCellMicro)} AS clat,
       |${cellIdxSql("lon", GeoCellMicro)} AS clon""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    // M5 — geodetic nearest supplier per customer (added r9): the real
    // lat/lon twin of geo_knn_grid. Same 3×3 blocked-join shape with a
    // LATITUDE-AWARE completeness bound (see GeoCellMicro) and a
    // longitude cell index that WRAPS at ±180° (the +36/%72 shift —
    // a probe at lon 179.9° sees candidates at −179.9°). Argmin over the
    // exact long chord², per-row `exact` flag = the 278 km envelope where
    // blocked == global; arc_m = ⌊2R·asin(√chord²/2R)⌋, one IEEE readout.
    "geo_knn_haversine" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey") +: geodetic("hlats:", "hlons:", col("s_suppkey")): _*)
        .select(col("s_suppkey") +: ecefCols(): _*)
      val cus = Tables.customer(s, d)
        .select(col("c_custkey") +: geodetic("hlatc:", "hlonc:", col("c_custkey")): _*)
        .select(col("c_custkey") +: ecefCols(): _*)
      val cand = cus
        .withColumn("dlat", explode(expr("sequence(-1, 1)")))
        .withColumn("dlon", explode(expr("sequence(-1, 1)")))
        .withColumn("jlat", col("clat") + col("dlat"))
        .withColumn("jlon",
          ((col("clon") + col("dlon") + 36L) % 72L + 72L) % 72L - 36L)
        .join(sup.select(col("s_suppkey"), col("ex").as("sx2"), col("ey").as("sy2"),
          col("ez").as("sz2"), col("clat").as("slat"), col("clon").as("slon")),
          col("jlat") === col("slat") && col("jlon") === col("slon"))
        .withColumn("d2",
          (col("ex") - col("sx2")) * (col("ex") - col("sx2"))
            + (col("ey") - col("sy2")) * (col("ey") - col("sy2"))
            + (col("ez") - col("sz2")) * (col("ez") - col("sz2")))
      val best = cand.groupBy("c_custkey")
        .agg(min(struct(col("d2"), col("s_suppkey"))).as("b"))
        .select(col("c_custkey"), col("b.s_suppkey").as("nearest_suppkey"),
          col("b.d2").as("d2"))
      val arc = floor(lit(2.0 * EarthR)
        * asin(sqrt(col("d2").cast("double")) / lit(2.0 * EarthR))).cast("long")
      cus.select("c_custkey")
        .join(best, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          when(col("nearest_suppkey").isNotNull, lit(1L)).otherwise(lit(0L)).as("found"),
          col("nearest_suppkey"),
          arc.as("arc_m"),
          when(col("nearest_suppkey").isNotNull && arc <= lit(277000L), lit(1L))
            .otherwise(lit(0L)).as("exact"))
        .orderBy("c_custkey")
    }),

    // M12 — INVERSE-DISTANCE-WEIGHTED grid interpolation (added r12;
    // Shepard 1968, p = 2): estimate a continuous field at every 100 km
    // cell CENTER from the supplier "stations'" deterministic md5
    // measurements — the coverage/signal-surface raster a siting or
    // radio-planning view draws (the spatial analogue of win_interpolate:
    // values exist at stations, the consumer wants a grid). Candidates =
    // the center's 3×3 blocked neighborhood (the geo_knn_grid spatial-LSH
    // shape — per-center cost is neighborhood occupancy, never corpus²;
    // production shrinks the cell to hold occupancy flat). Determinism:
    // weights are the EXACT integer quotient wq = 1e15 div max(d², 1)
    // (coincident station ⇒ the 1e15 cap dominates, as IDW demands), the
    // two accumulations are DECIMAL(38,0) sums of exact products, and the
    // estimate is ONE final IEEE divide, floor-1e-4. Centers with an
    // empty neighborhood keep their row (n_stations = 0, null idw) — the
    // raster's coverage-hole map is a first-class readout. Output ≤ 100
    // rows at any corpus size.
    "geo_idw" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val st = suppliers(s, d)
        .withColumn("zq",
          pmod(call_function("md5_bits",
            concat(lit("gz:"), col("s_suppkey").cast("string")),
            lit(1), lit(12)), lit(100000001L)))
      val centers = s.range(100)
        .select((col("id") % 10).as("gx"), expr("id div 10").as("gy"))
        .withColumn("px", col("gx") * lit(Cell) + lit(Cell / 2))
        .withColumn("py", col("gy") * lit(Cell) + lit(Cell / 2))
      val cand = centers
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .join(st, col("gx") + col("dx") === col("scx")
          && col("gy") + col("dy") === col("scy"))
        .withColumn("d2",
          (col("px") - col("sx")) * (col("px") - col("sx"))
            + (col("py") - col("sy")) * (col("py") - col("sy")))
        .withColumn("wq", expr("CAST(1000000000000000 AS BIGINT) div greatest(d2, 1)"))
      val agg = cand.groupBy("gx", "gy")
        .agg(count(lit(1)).as("n_stations"),
          sum(col("wq").cast(dec)).as("w"),
          sum((col("wq").cast(dec) * col("zq").cast(dec))).as("wz"))
      centers.select("gx", "gy")
        .join(agg, Seq("gx", "gy"), "left")
        .select(col("gx"), col("gy"),
          coalesce(col("n_stations"), lit(0L)).as("n_stations"),
          (floor(col("wz").cast("double") / col("w").cast("double") / 1e6 * 1e4) / 1e4)
            .as("idw"))
        .orderBy("gx", "gy")
    }),

    // M1 — grid density map: entity counts per 100 km cell — the spatial
    // histogram every coverage/siting readout starts from. Two map-side
    // projections union into ONE cell-grain aggregation (≤ grid² = 100
    // rows at any corpus size); no join, no window.
    "geo_grid_stats" -> ((s, d) => {
      val sup = suppliers(s, d)
        .select(col("scx").as("gx"), col("scy").as("gy"),
          lit(1L).as("is_s"), lit(0L).as("is_c"))
      val cus = customers(s, d)
        .select(col("ccx").as("gx"), col("ccy").as("gy"),
          lit(0L).as("is_s"), lit(1L).as("is_c"))
      sup.unionByName(cus)
        .groupBy("gx", "gy")
        .agg(sum("is_s").as("n_suppliers"), sum("is_c").as("n_customers"))
        .orderBy("gx", "gy")
    }),

    // M2 — nearest supplier per customer via the 3×3 neighbor-cell
    // blocked join (spatial k-NN, k=1): each customer explodes its 9
    // neighbor cells, equi-joins suppliers on the cell key (candidates ∝
    // cell occupancy, never n²), argmin over the EXACT long dx²+dy² with
    // the supplier key as integer tiebreak (min over a (dist², key)
    // struct). Customers with an empty neighborhood keep their row with
    // found=0 — the miss rate is a first-class number (the cell-sizing
    // signal). dist_m = ⌊√dist²⌋ — one IEEE sqrt of an exact long.
    // EXACTNESS ENVELOPE (r9 ADVICE): the answer is the true global
    // nearest only when the blocked minimum is ≤ Cell (100 km) — any
    // nearer candidate then must lie within one cell in each axis, so the
    // 3×3 neighborhood contains it. When the blocked minimum EXCEEDS
    // Cell, a strictly nearer supplier two or more cells away can be
    // missed while found=1 is still reported: past 100 km the result is
    // the blocked approximation (nearest within the 3×3 neighborhood),
    // the standard grid-ANN contract. d2 ≤ Cell² is the per-row exactness
    // test a consumer can apply; the oracle runs the identical blocked
    // chain so parity is unconditional.
    "geo_knn_grid" -> ((s, d) => {
      val cand = customers(s, d)
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .withColumn("jx", col("ccx") + col("dx"))
        .withColumn("jy", col("ccy") + col("dy"))
        .join(suppliers(s, d), col("jx") === col("scx") && col("jy") === col("scy"))
        .withColumn("d2", (col("cx") - col("sx")) * (col("cx") - col("sx"))
          + (col("cy") - col("sy")) * (col("cy") - col("sy")))
      val best = cand.groupBy("c_custkey")
        .agg(min(struct(col("d2"), col("s_suppkey"))).as("b"))
        .select(col("c_custkey"), col("b.s_suppkey").as("nearest_suppkey"),
          col("b.d2").as("d2"))
      customers(s, d).select("c_custkey")
        .join(best, Seq("c_custkey"), "left")
        .select(col("c_custkey"),
          when(col("nearest_suppkey").isNotNull, lit(1L)).otherwise(lit(0L)).as("found"),
          col("nearest_suppkey"),
          floor(sqrt(col("d2").cast("double"))).cast("long").as("dist_m"))
        .orderBy("c_custkey")
    }),

    // M3 — all supplier pairs within 100 km (spatial self-join): canonical
    // a<b pairs from the same 3×3 blocked join (each qualifying pair is
    // matched by exactly ONE (dx,dy) offset — no dedup pass needed), exact
    // integer radius test d² ≤ R². The blocked candidate volume is
    // Σ occupancy² over cells — the spatial analog of LSH banding; at
    // sf0.001 the square is sparse enough that zero pairs qualify, which
    // is itself the correct answer (oracle agrees).
    "geo_radius_pairs" -> ((s, d) => {
      val a = suppliers(s, d)
        .select(col("s_suppkey").as("s1"), col("sx").as("x1"), col("sy").as("y1"),
          col("scx"), col("scy"))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .withColumn("jx", col("scx") + col("dx"))
        .withColumn("jy", col("scy") + col("dy"))
      val b = suppliers(s, d)
        .select(col("s_suppkey").as("s2"), col("sx").as("x2"), col("sy").as("y2"),
          col("scx").as("bx"), col("scy").as("by"))
      a.join(b, col("jx") === col("bx") && col("jy") === col("by")
          && col("s1") < col("s2"))
        .withColumn("d2", (col("x1") - col("x2")) * (col("x1") - col("x2"))
          + (col("y1") - col("y2")) * (col("y1") - col("y2")))
        .where(col("d2") <= lit(Cell * Cell))
        .select(col("s1"), col("s2"),
          floor(sqrt(col("d2").cast("double"))).cast("long").as("dist_m"))
        .orderBy("s1", "s2")
    }),

    // M4 — DBSCAN density classification (the clustering's step 1): each
    // supplier classified core (≥ 3 neighbors within 100 km) / border /
    // isolated from the SAME lossless 3×3 blocked self-join —
    // neighborhood counts are the canonical-pair table read from both
    // ends, so pair work is paid once. Suppliers with no qualifying pair
    // keep their row at 0 via the left join (the noise class is the
    // density-threshold-sizing signal, like geo_knn_grid's miss rate).
    "geo_density_core" -> ((s, d) => {
      val a = suppliers(s, d)
        .select(col("s_suppkey").as("s1"), col("sx").as("x1"), col("sy").as("y1"),
          col("scx"), col("scy"))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .withColumn("jx", col("scx") + col("dx"))
        .withColumn("jy", col("scy") + col("dy"))
      val b = suppliers(s, d)
        .select(col("s_suppkey").as("s2"), col("sx").as("x2"), col("sy").as("y2"),
          col("scx").as("bx"), col("scy").as("by"))
      val pairs = a.join(b, col("jx") === col("bx") && col("jy") === col("by")
          && col("s1") < col("s2"))
        .where((col("x1") - col("x2")) * (col("x1") - col("x2"))
          + (col("y1") - col("y2")) * (col("y1") - col("y2")) <= lit(Cell * Cell))
        .select("s1", "s2")
      val deg = pairs.select(col("s1").as("k")).unionByName(pairs.select(col("s2").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n_neighbors"))
      suppliers(s, d).select(col("s_suppkey"))
        .join(deg, col("s_suppkey") === col("k"), "left")
        .select(col("s_suppkey"),
          coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
          when(coalesce(col("n_neighbors"), lit(0L)) >= 3, lit("core"))
            .when(coalesce(col("n_neighbors"), lit(0L)) >= 1, lit("border"))
            .otherwise(lit("isolated")).as("density_class"))
        .orderBy("s_suppkey")
    }),

    // M6 — full DBSCAN labeling (added r9, clustering step 2 completing
    // `geo_density_core`'s step 1): cluster = connected component of the
    // CORE-CORE proximity graph via `Dedup.clustersPointerJump` — the
    // SAME O(log diameter) pointer-doubling primitive the dedup-cluster
    // and graph_cc families run, reused in space (label = min core id).
    // Borders (non-core with a core neighbor) attach to the MIN core
    // neighbor's label — deterministic where textbook DBSCAN is
    // arrival-order-dependent; noise carries cluster −1. Pair work is the
    // one blocked self-join paid once (checkpointed, read by degree /
    // core-edge / attach stages); everything iterative runs on the
    // core-core edge set, a subset of the blocked pairs. Oracle =
    // recursive-CTE reachability + min() label (the graph_cc shape).
    "geo_dbscan_label" -> ((s, d) => {
      val a = suppliers(s, d)
        .select(col("s_suppkey").as("s1"), col("sx").as("x1"), col("sy").as("y1"),
          col("scx"), col("scy"))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .withColumn("jx", col("scx") + col("dx"))
        .withColumn("jy", col("scy") + col("dy"))
      val b = suppliers(s, d)
        .select(col("s_suppkey").as("s2"), col("sx").as("x2"), col("sy").as("y2"),
          col("scx").as("bx"), col("scy").as("by"))
      val pairs = a.join(b, col("jx") === col("bx") && col("jy") === col("by")
          && col("s1") < col("s2"))
        .where((col("x1") - col("x2")) * (col("x1") - col("x2"))
          + (col("y1") - col("y2")) * (col("y1") - col("y2")) <= lit(Cell * Cell))
        .select("s1", "s2")
        .localCheckpoint(true) // read by degree, core-edge and attach stages
      val deg = pairs.select(col("s1").as("k")).unionByName(pairs.select(col("s2").as("k")))
        .groupBy("k").agg(count(lit(1)).as("n"))
      val cores = deg.where(col("n") >= 3).select(col("k"))
      val corePairs = pairs
        .join(cores.select(col("k").as("c1")), col("s1") === col("c1"))
        .join(cores.select(col("k").as("c2")), col("s2") === col("c2"))
        .select(col("s1").as("a_id"), col("s2").as("b_id"))
      val lbl = Dedup.clustersPointerJump(corePairs) // (id, cluster_id)
      val coreLbl = cores
        .join(lbl, col("k") === col("id"), "left")
        .select(col("k"), coalesce(col("cluster_id"), col("k")).as("lbl"))
        .localCheckpoint(true) // core grain; read by core rows + attach
      val edges = pairs.select(col("s1").as("x"), col("s2").as("y"))
        .unionByName(pairs.select(col("s2").as("x"), col("s1").as("y")))
      val attach = edges.join(coreLbl.select(col("k").as("y"), col("lbl")), Seq("y"))
        .groupBy(col("x")).agg(min("lbl").as("b_lbl"))
      suppliers(s, d).select(col("s_suppkey"))
        .join(coreLbl.select(col("k").as("s_suppkey"), col("lbl").as("c_lbl")),
          Seq("s_suppkey"), "left")
        .join(attach.select(col("x").as("s_suppkey"), col("b_lbl")),
          Seq("s_suppkey"), "left")
        .select(col("s_suppkey"),
          when(col("c_lbl").isNotNull, lit("core"))
            .when(col("b_lbl").isNotNull, lit("border"))
            .otherwise(lit("noise")).as("role"),
          coalesce(col("c_lbl"), col("b_lbl"), lit(-1L)).as("cluster"))
        .orderBy("s_suppkey")
    }),

    // M7 — per-region diameter (added r9): the farthest supplier pair and
    // its exact squared distance — the spatial SPREAD readout (service
    // radius, territory extent) that complements the density keys'
    // proximity view. Pair work is blocked by REGION (5 blocks, so pair
    // volume is ~n²/5 — the coarsest dimension block; blocking by nation
    // would tighten the quadratic bound to ~n²/25 at the cost of a
    // different business readout), and the
    // argmax is a struct-min under the total order (d² desc, a asc,
    // b asc) so ties can't leak. Everything is exact long arithmetic —
    // dx²+dy² on integer meters. At corpus sizes where per-block
    // quadratic pair volume bites, production prefilters to the per-block
    // convex hull (diameter endpoints are hull points) — the documented
    // scale path; the block here is ≤ dimension-sized by construction.
    // M8 — geohash encoding (added r9): the standard base32 spatial key
    // (interleaved lon/lat bisection bits) every geo store indexes by —
    // prefix-share = proximity, so the 6-char hash IS a hierarchical
    // blocking key (the string form of the grid-cell idea). The textbook
    // algorithm bisects float intervals; here each 15-bit axis value is
    // ONE exact integer expression — floor((lon+180e6)·2¹⁵/360e6) equals
    // 15 bisection steps at once (products ≤ 1.2·10¹³, long-safe) — and
    // the 30-bit Morton interleave + base32 digits are div/mod
    // arithmetic, so the whole encode is exact integer work on both
    // engines (GeoSpec proves the closed form equals the textbook
    // bisection on the corpus). One linear pass, no shuffle before the
    // final sort.
    // M10 — trajectory path analytics (added r11): per-entity travelled
    // distance, net displacement, and straightness ratio over the
    // (ts, event_id)-ordered position sequence — the trip-level readout
    // every movement pipeline computes first (odometer vs as-the-crow-
    // flies; straightness ≈ 1 = directed transit, ≈ 0 = wandering).
    // Positions are the family's md5-synthesized exact integer meters;
    // each segment length ⌊√(dx²+dy²)⌋ is a correctly-rounded IEEE sqrt
    // of an exactly-representable long (≤ 2e12 < 2⁵³) FLOORED TO A LONG,
    // so the per-entity sums are order-free exact integers — no float
    // accumulation anywhere (the family's no-libm-drift stance, extended
    // to paths). One lag window + one groupBy: linear, entity-keyed.
    // Endpoints via lexicographic struct min/max on (ts, event_id) —
    // the agg_minmax_by idiom.
    "geo_path_length" -> ((s, d) => {
      def coord(tag: String) =
        (call_function("md5_bits",
          concat(lit(tag), col("event_id").cast("string")), lit(1), lit(12)) % Side)
      val pts = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
        coord("px:").as("px"), coord("py:").as("py"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      val seg = pts
        .withColumn("lx", lag("px", 1).over(w))
        .withColumn("ly", lag("py", 1).over(w))
        .withColumn("d", when(col("lx").isNotNull,
          floor(sqrt(((col("px") - col("lx")) * (col("px") - col("lx"))
            + (col("py") - col("ly")) * (col("py") - col("ly"))).cast("double")))
            .cast("long")))
      seg.groupBy("user_id").agg(
          count(lit(1)).as("n_points"),
          coalesce(sum("d"), lit(0L)).as("path_m"),
          min(struct(col("ts"), col("event_id"), col("px"), col("py"))).as("f"),
          max(struct(col("ts"), col("event_id"), col("px"), col("py"))).as("l"))
        .withColumn("disp_m",
          floor(sqrt(((col("l.px") - col("f.px")) * (col("l.px") - col("f.px"))
            + (col("l.py") - col("f.py")) * (col("l.py") - col("f.py"))).cast("double")))
            .cast("long"))
        .select(col("user_id"), col("n_points"), col("path_m"), col("disp_m"),
          when(col("path_m") > 0,
            floor(col("disp_m").cast("double") / col("path_m").cast("double") * 1e4) / 1e4)
            .as("straightness"))
        .orderBy("user_id")
    }),

    // M8''' — TRAJECTORY SPEED SCREEN (added r12): per entity, the
    // step-speed profile and its physical-plausibility violations — the
    // data-cleaning pass every movement pipeline runs BEFORE stay/OD
    // mining (a teleporting ping poisons both): step speed = step
    // distance over elapsed time, flagged when it exceeds 50 m/s
    // (180 km/h — nothing ground-based in the fixture's walk moves
    // faster; the GPS-spoof / device-clock-glitch screen). Determinism:
    // distance is the floored sqrt of an exact long (the
    // geo_path_length stance), elapsed µs is an exact long lag, and
    // speed is the EXACT integer quotient d·1e6 div max(Δµs, 1) — no
    // float crosses the 50 m/s threshold. One entity-keyed window +
    // one user-grain rollup, linear at any scale.
    "geo_speed_outliers" -> ((s, d) => {
      def coord(tag: String) =
        (call_function("md5_bits",
          concat(lit(tag), col("event_id").cast("string")), lit(1), lit(12)) % Side)
      val pts = Tables.events(s, d).select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        coord("px:").as("px"), coord("py:").as("py"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us", "event_id")
      pts
        .withColumn("lx", lag("px", 1).over(w))
        .withColumn("ly", lag("py", 1).over(w))
        .withColumn("lus", lag("us", 1).over(w))
        .where(col("lx").isNotNull)
        .withColumn("d", floor(sqrt(((col("px") - col("lx")) * (col("px") - col("lx"))
          + (col("py") - col("ly")) * (col("py") - col("ly"))).cast("double")))
          .cast("long"))
        .withColumn("sp", expr("(d * 1000000) div greatest(us - lus, 1)"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("sp") > 50L, 1L).otherwise(0L)).as("n_outliers"),
          max(col("sp")).as("max_speed_mps"))
        .withColumn("outlier_rate",
          floor(col("n_outliers").cast("double") / col("n_steps").cast("double") * 1e4) / 1e4)
        .select(col("user_id"), col("n_steps"), col("n_outliers"),
          col("outlier_rate"), col("max_speed_mps"))
        .orderBy("user_id")
    }),

    // M8' — STAY-POINT detection (added r12; Li et al. 2008's stop
    // extraction in its production step-distance form): per entity,
    // maximal runs of consecutive trajectory points (in the (ts,
    // event_id) total order) whose step distance stays ≤ 6 km — the
    // dwell/stop readout movement pipelines derive right after
    // `geo_path_length`'s trip stats (home/work detection, visit mining,
    // POI attribution). Fixture gives trajectories real structure while
    // staying md5-exact: each event is either a DWELL observation (md5
    // mode 0 of 4 — jittered ±2 km around the user's md5 home, so
    // consecutive dwells step ≤ √2·4 km < 6 km by construction) or a
    // full-square uniform MOVE point (P[within 6 km of the previous
    // point] ≈ 10⁻⁴ — stays are runs, not coincidences). Gaps-and-islands
    // on the step flag (one lag window + one running sum, entity-keyed
    // linear — the win_islands shape in space); stays of ≥ 3 points
    // emitted with exact-integer duration and floor-div centroid. All
    // arithmetic exact longs; the only IEEE op is the step sqrt of an
    // exactly-representable long, floored (the geo_path_length stance).
    "geo_stay_points" -> ((s, d) => {
      val mode = pmod(call_function("md5_bits",
        concat(lit("sm:"), col("event_id").cast("string")), lit(1), lit(4)), lit(4L))
      def jit(tag: String) = pmod(call_function("md5_bits",
        concat(lit(tag), col("event_id").cast("string")),
        lit(1), lit(8)), lit(4001L)) - 2000L
      val pts = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
          mode.as("m"),
          coord("hx:", col("user_id")).as("hx"), coord("hy:", col("user_id")).as("hy"),
          coord("px:", col("event_id")).as("ux"), coord("py:", col("event_id")).as("uy"),
          jit("jx:").as("jx"), jit("jy:").as("jy"))
        .select(col("user_id"), col("ts").cast("long").as("ts_sec"), col("event_id"),
          when(col("m") === 0, col("hx") + col("jx")).otherwise(col("ux")).as("px"),
          when(col("m") === 0, col("hy") + col("jy")).otherwise(col("uy")).as("py"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_sec", "event_id")
      val flagged = pts
        .withColumn("lx", lag("px", 1).over(w))
        .withColumn("ly", lag("py", 1).over(w))
        .withColumn("brk", when(col("lx").isNull ||
          (col("px") - col("lx")) * (col("px") - col("lx"))
            + (col("py") - col("ly")) * (col("py") - col("ly")) > lit(36000000L), 1L)
          .otherwise(0L))
        .withColumn("stay_id", sum("brk").over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      flagged.groupBy("user_id", "stay_id")
        .agg(count(lit(1)).as("n_points"),
          min("ts_sec").as("from_sec"), max("ts_sec").as("to_sec"),
          expr("sum(px) div count(*)").as("cx"),
          expr("sum(py) div count(*)").as("cy"))
        .where(col("n_points") >= 3)
        .select(col("user_id"), col("stay_id"), col("n_points"),
          col("from_sec"), col("to_sec"),
          (col("to_sec") - col("from_sec")).as("duration_sec"), col("cx"), col("cy"))
        .orderBy("user_id", "stay_id")
    }),

    // M8''' — ORIGIN–DESTINATION matrix (added r12): aggregate flows
    // between grid cells from consecutive trajectory points — the
    // transport-planning / capacity readout every movement pipeline
    // publishes (agg_transition_matrix's idea taken to SPACE: states =
    // 100 km cells). A trip = two consecutive points (the (ts, event_id)
    // order) landing in DIFFERENT cells; stationary steps are not trips.
    // One lag window + one (from, to)-cell groupBy — entity-keyed
    // linear, and the output is grid²-bounded (≤ 9 900 OD rows at ANY
    // corpus size: the summary-grain property that makes OD matrices
    // publishable). n_users (distinct entities per flow) rides along —
    // the privacy/aggregation k-anonymity count OD releases gate on.
    "geo_od_matrix" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
        coord("px:", col("event_id")).as("px"), coord("py:", col("event_id")).as("py"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      pts
        .withColumn("cx", expr(s"px div $Cell"))
        .withColumn("cy", expr(s"py div $Cell"))
        .withColumn("fx", lag("cx", 1).over(w))
        .withColumn("fy", lag("cy", 1).over(w))
        .where(col("fx").isNotNull
          && (col("fx") =!= col("cx") || col("fy") =!= col("cy")))
        .groupBy("fx", "fy", "cx", "cy")
        .agg(count(lit(1)).as("n_trips"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("fx", "fy", "cx", "cy")
    }),

    // M8'' — CO-MOVEMENT screen (added r12): entity pairs repeatedly
    // co-located — within 100 km in the SAME hour, in ≥ 2 distinct hours
    // — the convoy/contact/travelling-together primitive (flock mining,
    // exposure tracing, fraud collusion). The spatial LSH blocks in
    // SPACE-TIME: one representative position per (entity, hour)
    // (min-event_id argmin — one struct min, no window), then the
    // family's lossless 3×3 cell join ADDITIONALLY keyed on the hour —
    // candidate volume is Σ occupancy² per (hour, cell), never corpus²,
    // and the hour key shards the join ~uniformly across time (the skew
    // story a pure-space join lacks). A qualifying pair matches exactly
    // one (dx,dy) offset (R = cell edge ⇒ lossless, the
    // geo_radius_pairs argument) so counts need no dedup; repeat
    // filter ≥ 2 is what separates convoys from single coincidences.
    // Exact long distance test; counts exact.
    "geo_comovement" -> ((s, d) => {
      val rep = Tables.events(s, d)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
          col("event_id"),
          coord("px:", col("event_id")).as("px"), coord("py:", col("event_id")).as("py"))
        .groupBy("user_id", "hr")
        .agg(min(struct(col("event_id"), col("px"), col("py"))).as("r"))
        .select(col("user_id"), col("hr"),
          col("r.px").as("px"), col("r.py").as("py"))
        .withColumn("cx", expr(s"px div $Cell"))
        .withColumn("cy", expr(s"py div $Cell"))
      val a = rep.select(col("user_id").as("u1"), col("hr"),
          col("px").as("x1"), col("py").as("y1"), col("cx"), col("cy"))
        .withColumn("dx", explode(expr("sequence(-1, 1)")))
        .withColumn("dy", explode(expr("sequence(-1, 1)")))
        .withColumn("jx", col("cx") + col("dx"))
        .withColumn("jy", col("cy") + col("dy"))
      val b = rep.select(col("user_id").as("u2"), col("hr").as("hr2"),
        col("px").as("x2"), col("py").as("y2"),
        col("cx").as("bx"), col("cy").as("by"))
      a.join(b, col("hr") === col("hr2") && col("jx") === col("bx")
          && col("jy") === col("by") && col("u1") < col("u2"))
        .where((col("x1") - col("x2")) * (col("x1") - col("x2"))
          + (col("y1") - col("y2")) * (col("y1") - col("y2")) <= lit(Cell * Cell))
        .groupBy("u1", "u2")
        .agg(count(lit(1)).as("n_hours"),
          min("hr").as("first_hr"), max("hr").as("last_hr"))
        .where(col("n_hours") >= 2)
        .orderBy("u1", "u2")
    }),

    "geo_geohash" -> ((s, d) => {
      // least(·, 32767): floor((v+off)·2¹⁵/range) reads 32768 at exactly
      // v = +90°/+180°, which would wrap the 15-bit field to all-zeros
      // (north pole encoding as lat −90). Textbook geohash puts the
      // boundary in the topmost cell — the clamp, on both engines.
      val lonBits = s"least((((lon + 180000000L) * 32768L) div 360000000L), 32767L)"
      val latBits = s"least((((lat + 90000000L) * 32768L) div 180000000L), 32767L)"
      val morton = (0 to 14).map { i =>
        s"(($lonBits div ${1L << (14 - i)}L) % 2L) * ${1L << (29 - 2 * i)}L" +
          s" + (($latBits div ${1L << (14 - i)}L) % 2L) * ${1L << (28 - 2 * i)}L"
      }.mkString(" + ")
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      val chars = (0 to 5).map { c =>
        s"substring('$alphabet', CAST((g div ${1L << (5 * (5 - c))}L) % 32L AS INT) + 1, 1)"
      }.mkString("concat(", ", ", ")")
      Tables.supplier(s, d)
        .select(col("s_suppkey") +: geodetic("hlats:", "hlons:", col("s_suppkey")): _*)
        .withColumn("g", expr(morton))
        .select(col("s_suppkey"), col("lat"), col("lon"),
          expr(chars).as("geohash"))
        .orderBy("s_suppkey")
    }),

    // M9 — POINT-IN-POLYGON containment (added r10): the geofence /
    // service-territory primitive the family lacked — classify every
    // customer against a fixed simple (non-convex) polygon by the
    // even-odd ray-casting rule, with the crossing test kept in EXACT
    // long arithmetic: for edge (x1,y1)→(x2,y2) straddling the point's
    // horizontal ray ((y1>py) ≠ (y2>py)), the "ray passes left of the
    // edge" test px < x1 + (x2−x1)(py−y1)/(y2−y1) is cross-multiplied to
    // the division-free cross = (x2−x1)(py−y1) − (px−x1)(y2−y1) compared
    // against 0 with the sign of (y2−y1) resolved AT BUILD TIME per edge
    // (products ≤ 1e12 — long-safe; horizontal edges contribute nothing
    // and are dropped at build time). Both engines run the literally
    // identical generated predicate, so parity is unconditional — no
    // float, no boundary convention to disagree on. GeoSpec additionally
    // cross-checks every classification against java.awt.geom.Path2D
    // (independent JDK geometry) and verifies the polygon is simple.
    // One linear scan, nation-grain aggregate; the polygon broadcasts as
    // a constant expression — the 100 TB geofence shape.
    "geo_point_in_poly" -> ((s, d) => {
      val crossings = Geo.polyCrossingsExpr("cx", "cy")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"),
          coord("gxc:", col("c_custkey")).as("cx"),
          coord("gyc:", col("c_custkey")).as("cy"))
        .withColumn("inside", expr(s"(($crossings) % 2) = 1"))
        .groupBy(col("c_nationkey").cast("long").as("nation"))
        .agg(count(lit(1)).as("n_cust"),
          sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"),
          sum(when(col("inside"), col("c_custkey").cast("long")).otherwise(0L))
            .as("sum_key_inside"))
        .orderBy("nation")
    }),

    // M7' — diameter via CONVEX HULL (added r10): `geo_diameter`'s own
    // doc declares its scale path — "production prefilters to the
    // per-block convex hull (diameter endpoints are hull points)" — and
    // this key RUNS that path: per region, Andrew's monotone chain
    // (`ops.Hull`, exact long cross products) reduces k points to h hull
    // vertices, then the diameter scans h² vertex pairs instead of
    // joining k²/2. The ORACLE is the brute-force all-pairs argmax — the
    // hash match IS the proof that the hull shortcut is exact, tie rule
    // included (argmax candidates are restricted to points AT hull-vertex
    // positions, so duplicate coordinates keep brute-identical id
    // tie-breaks; an edge-interior point strictly loses — distance along
    // a segment is strictly convex). mapGroups is the declared imperative
    // drop-down: region blocks are dimension-grain (k ≤ |suppliers|/5),
    // the hull loop is genuinely sequential, and the group fold keeps the
    // O(k²) pair volume OFF the wire entirely — one shuffle of points,
    // never pairs. At 100 TB blocks: hull first, pairs after — this key.
    "geo_hull_diameter" -> ((s, d) => {
      import s.implicits._
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").cast("long").as("region"),
          col("s_suppkey").cast("long").as("id"),
          coord("gxs:", col("s_suppkey")).as("sx"),
          coord("gys:", col("s_suppkey")).as("sy"))
        .as[(Long, Long, Long, Long)]
      sup.groupByKey(_._1).flatMapGroups { (region, it) =>
        val pts = it.map(t => (t._2, t._3, t._4)).toArray
        if (pts.length < 2) Iterator.empty
        else {
          val hull = graft.ops.Hull.monotoneChain(pts.map(p => (p._2, p._3)).toIndexedSeq)
          val hv = hull.toArray
          var d2max = 0L
          var i = 0
          while (i < hv.length) {
            var j = i + 1
            while (j < hv.length) {
              val dx = hv(i)._1 - hv(j)._1; val dy = hv(i)._2 - hv(j)._2
              val d2 = dx * dx + dy * dy
              if (d2 > d2max) d2max = d2
              j += 1
            }
            i += 1
          }
          val posSet = hull.toSet
          val cand = pts.filter(p => posSet.contains((p._2, p._3))).sortBy(_._1)
          var best: (Long, Long) = null
          var bi = 0
          while (bi < cand.length) {
            var bj = bi + 1
            while (bj < cand.length) {
              val dx = cand(bi)._2 - cand(bj)._2; val dy = cand(bi)._3 - cand(bj)._3
              if (dx * dx + dy * dy == d2max) {
                val pair = if (cand(bi)._1 < cand(bj)._1) (cand(bi)._1, cand(bj)._1)
                  else (cand(bj)._1, cand(bi)._1)
                if (best == null || pair._1 < best._1
                  || (pair._1 == best._1 && pair._2 < best._2)) best = pair
              }
              bj += 1
            }
            bi += 1
          }
          if (best == null) Iterator.empty
          else Iterator((region, pts.length.toLong, best._1, best._2, d2max))
        }
      }.toDF("region", "n_sup", "a_id", "b_id", "d2_meters")
        .orderBy("region")
    }),

    "geo_diameter" -> ((s, d) => {
      val sup = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_regionkey").as("region"),
          coord("gxs:", col("s_suppkey")).as("sx"),
          coord("gys:", col("s_suppkey")).as("sy"))
      val a = sup.select(col("region"), col("s_suppkey").as("a_id"),
        col("sx").as("ax"), col("sy").as("ay"))
      val b = sup.select(col("region"), col("s_suppkey").as("b_id"),
        col("sx").as("bx"), col("sy").as("by"))
      val pairs = a.join(b, Seq("region")).where(col("a_id") < col("b_id"))
        .withColumn("d2", (col("ax") - col("bx")) * (col("ax") - col("bx"))
          + (col("ay") - col("by")) * (col("ay") - col("by")))
      val nSup = sup.groupBy(col("region")).agg(count(lit(1)).as("n_sup"))
      pairs.groupBy("region")
        .agg(min_by(struct(col("a_id"), col("b_id"), col("d2")),
          struct(negate(col("d2")), col("a_id"), col("b_id"))).as("m"))
        .join(nSup, "region")
        .select(col("region"), col("n_sup"),
          col("m.a_id").as("a_id"), col("m.b_id").as("b_id"),
          col("m.d2").as("d2_meters"))
        .orderBy("region")
    }),
  )

  val oracles: Map[String, String] = Map(
    "geo_knn_haversine" ->
      s"""WITH supg AS (
        |  SELECT s_suppkey, ${geodeticSql("hlats:", "hlons:", "s_suppkey")} FROM supplier
        |),
        |cusg AS (
        |  SELECT c_custkey, ${geodeticSql("hlatc:", "hlonc:", "c_custkey")} FROM customer
        |),
        |sup AS (SELECT s_suppkey, $ecefSql FROM supg),
        |cus AS (SELECT c_custkey, $ecefSql FROM cusg),
        |cand AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |         (c.ex - s.ex) * (c.ex - s.ex) + (c.ey - s.ey) * (c.ey - s.ey)
        |           + (c.ez - s.ez) * (c.ez - s.ez) AS d2
        |  FROM cus c
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dlat) oa
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dlon) ob
        |  JOIN sup s ON c.clat + oa.dlat = s.clat
        |            AND ((c.clon + ob.dlon + 36) % 72 + 72) % 72 - 36 = s.clon
        |),
        |best AS (
        |  SELECT c_custkey, s_suppkey, d2,
        |         row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn
        |  FROM cand
        |)
        |SELECT c.c_custkey,
        |       CASE WHEN b.s_suppkey IS NOT NULL THEN 1 ELSE 0 END AS found,
        |       b.s_suppkey AS nearest_suppkey,
        |       CAST(floor(12742000.0 * asin(sqrt(CAST(b.d2 AS DOUBLE)) / 12742000.0)) AS BIGINT) AS arc_m,
        |       CASE WHEN b.s_suppkey IS NOT NULL
        |                  AND CAST(floor(12742000.0 * asin(sqrt(CAST(b.d2 AS DOUBLE)) / 12742000.0)) AS BIGINT) <= 277000
        |            THEN 1 ELSE 0 END AS exact
        |FROM cus c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON c.c_custkey = b.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "geo_grid_stats" ->
      s"""WITH sup AS ($suppliersSql),
        |cus AS ($customersSql),
        |u AS (
        |  SELECT sx // $Cell AS gx, sy // $Cell AS gy, 1 AS is_s, 0 AS is_c FROM sup
        |  UNION ALL
        |  SELECT cx // $Cell, cy // $Cell, 0, 1 FROM cus
        |)
        |SELECT gx, gy, CAST(sum(is_s) AS BIGINT) AS n_suppliers,
        |       CAST(sum(is_c) AS BIGINT) AS n_customers
        |FROM u GROUP BY 1, 2 ORDER BY gx, gy""".stripMargin,
    "geo_idw" ->
      s"""WITH sup AS ($suppliersSql),
        |st AS (
        |  SELECT *, sx // $Cell AS scx, sy // $Cell AS scy,
        |         CAST(concat('0x', substring(md5(concat('gz:',
        |           CAST(s_suppkey AS VARCHAR))), 1, 12)) AS BIGINT) % 100000001 AS zq
        |  FROM sup
        |),
        |centers AS (
        |  SELECT i % 10 AS gx, i // 10 AS gy,
        |         (i % 10) * $Cell + ${Cell / 2} AS px,
        |         (i // 10) * $Cell + ${Cell / 2} AS py
        |  FROM (SELECT unnest(range(0, 100)) AS i)
        |),
        |cand AS (
        |  SELECT c.gx, c.gy,
        |         1000000000000000 // greatest(
        |           (c.px - s.sx) * (c.px - s.sx) + (c.py - s.sy) * (c.py - s.sy),
        |           1) AS wq,
        |         s.zq
        |  FROM centers c
        |  JOIN (SELECT unnest([-1, 0, 1]) AS dx) ddx ON true
        |  JOIN (SELECT unnest([-1, 0, 1]) AS dy) ddy ON true
        |  JOIN st s ON c.gx + ddx.dx = s.scx AND c.gy + ddy.dy = s.scy
        |),
        |agg AS (
        |  SELECT gx, gy, count(*) AS n_stations,
        |         sum(CAST(wq AS HUGEINT)) AS w,
        |         sum(CAST(wq AS HUGEINT) * CAST(zq AS HUGEINT)) AS wz
        |  FROM cand GROUP BY 1, 2
        |)
        |SELECT c.gx, c.gy, coalesce(a.n_stations, 0) AS n_stations,
        |       floor(CAST(a.wz AS DOUBLE) / CAST(a.w AS DOUBLE) / 1e6 * 1e4) / 1e4 AS idw
        |FROM centers c LEFT JOIN agg a ON c.gx = a.gx AND c.gy = a.gy
        |ORDER BY c.gx, c.gy""".stripMargin,
    "geo_knn_grid" ->
      s"""WITH sup AS ($suppliersSql),
        |cus AS ($customersSql),
        |cand AS (
        |  SELECT c.c_custkey, s.s_suppkey,
        |         (c.cx - s.sx) * (c.cx - s.sx) + (c.cy - s.sy) * (c.cy - s.sy) AS d2
        |  FROM cus c
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        |  JOIN sup s ON c.cx // $Cell + ox.dx = s.sx // $Cell
        |            AND c.cy // $Cell + oy.dy = s.sy // $Cell
        |),
        |best AS (
        |  SELECT c_custkey, s_suppkey, d2,
        |         row_number() OVER (PARTITION BY c_custkey ORDER BY d2, s_suppkey) AS rn
        |  FROM cand
        |)
        |SELECT c.c_custkey,
        |       CASE WHEN b.s_suppkey IS NOT NULL THEN 1 ELSE 0 END AS found,
        |       b.s_suppkey AS nearest_suppkey,
        |       CAST(floor(sqrt(CAST(b.d2 AS DOUBLE))) AS BIGINT) AS dist_m
        |FROM cus c LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON c.c_custkey = b.c_custkey
        |ORDER BY c.c_custkey""".stripMargin,
    "geo_radius_pairs" ->
      s"""WITH sup AS ($suppliersSql)
        |SELECT a.s_suppkey AS s1, b.s_suppkey AS s2,
        |       CAST(floor(sqrt(CAST(
        |         (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy)
        |       AS DOUBLE))) AS BIGINT) AS dist_m
        |FROM sup a
        |CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        |CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        |JOIN sup b ON a.sx // $Cell + ox.dx = b.sx // $Cell
        |          AND a.sy // $Cell + oy.dy = b.sy // $Cell
        |          AND a.s_suppkey < b.s_suppkey
        |WHERE (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy)
        |      <= ${Cell * Cell}
        |ORDER BY s1, s2""".stripMargin,
    "geo_density_core" ->
      s"""WITH sup AS ($suppliersSql),
        |pr AS (
        |  SELECT a.s_suppkey AS s1, b.s_suppkey AS s2
        |  FROM sup a
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        |  JOIN sup b ON a.sx // $Cell + ox.dx = b.sx // $Cell
        |            AND a.sy // $Cell + oy.dy = b.sy // $Cell
        |            AND a.s_suppkey < b.s_suppkey
        |  WHERE (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy)
        |        <= ${Cell * Cell}
        |),
        |deg AS (
        |  SELECT k, count(*) AS n FROM (
        |    SELECT s1 AS k FROM pr UNION ALL SELECT s2 FROM pr
        |  ) GROUP BY 1
        |)
        |SELECT s.s_suppkey, coalesce(deg.n, 0) AS n_neighbors,
        |       CASE WHEN coalesce(deg.n, 0) >= 3 THEN 'core'
        |            WHEN coalesce(deg.n, 0) >= 1 THEN 'border'
        |            ELSE 'isolated' END AS density_class
        |FROM sup s LEFT JOIN deg ON s.s_suppkey = deg.k
        |ORDER BY s.s_suppkey""".stripMargin,
    "geo_dbscan_label" ->
      s"""WITH RECURSIVE sup AS ($suppliersSql),
        |pr AS (
        |  SELECT a.s_suppkey AS s1, b.s_suppkey AS s2
        |  FROM sup a
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dx) ox
        |  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS dy) oy
        |  JOIN sup b ON a.sx // $Cell + ox.dx = b.sx // $Cell
        |            AND a.sy // $Cell + oy.dy = b.sy // $Cell
        |            AND a.s_suppkey < b.s_suppkey
        |  WHERE (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy)
        |        <= ${Cell * Cell}
        |),
        |deg AS (
        |  SELECT k, count(*) AS n FROM (
        |    SELECT s1 AS k FROM pr UNION ALL SELECT s2 FROM pr
        |  ) GROUP BY 1
        |),
        |core AS (SELECT k FROM deg WHERE n >= 3),
        |ce AS (
        |  SELECT s1 AS u, s2 AS v FROM pr
        |  WHERE s1 IN (SELECT k FROM core) AND s2 IN (SELECT k FROM core)
        |),
        |edges AS (SELECT u, v FROM ce UNION SELECT v, u FROM ce),
        |reach AS (
        |  SELECT u AS id, u AS r FROM edges
        |  UNION
        |  SELECT rc.id, e.v FROM reach rc JOIN edges e ON e.u = rc.r
        |),
        |comp AS (SELECT id, min(r) AS lbl FROM reach GROUP BY id),
        |corelbl AS (
        |  SELECT c.k, coalesce(comp.lbl, c.k) AS lbl
        |  FROM core c LEFT JOIN comp ON comp.id = c.k
        |),
        |alledges AS (SELECT s1 AS x, s2 AS y FROM pr UNION ALL SELECT s2, s1 FROM pr),
        |battach AS (
        |  SELECT e.x AS k, min(cl.lbl) AS lbl
        |  FROM alledges e JOIN corelbl cl ON cl.k = e.y GROUP BY 1
        |)
        |SELECT s.s_suppkey,
        |       CASE WHEN cl.k IS NOT NULL THEN 'core'
        |            WHEN ba.k IS NOT NULL THEN 'border'
        |            ELSE 'noise' END AS role,
        |       coalesce(cl.lbl, ba.lbl, -1) AS cluster
        |FROM sup s
        |LEFT JOIN corelbl cl ON cl.k = s.s_suppkey
        |LEFT JOIN battach ba ON ba.k = s.s_suppkey
        |ORDER BY s.s_suppkey""".stripMargin,
    "geo_speed_outliers" ->
      """WITH pts AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |         CAST(concat('0x', substring(md5(concat('px:', CAST(event_id AS VARCHAR))),
        |           1, 12)) AS BIGINT) % 1000000 AS px,
        |         CAST(concat('0x', substring(md5(concat('py:', CAST(event_id AS VARCHAR))),
        |           1, 12)) AS BIGINT) % 1000000 AS py
        |  FROM events
        |),
        |seg AS (
        |  SELECT user_id, us, event_id, px, py,
        |         lag(px) OVER w AS lx, lag(py) OVER w AS ly, lag(us) OVER w AS lus
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        |),
        |sp AS (
        |  SELECT user_id,
        |         (CAST(floor(sqrt(CAST((px - lx) * (px - lx) + (py - ly) * (py - ly)
        |            AS DOUBLE))) AS BIGINT) * 1000000)
        |           // greatest(us - lus, 1) AS sp
        |  FROM seg WHERE lx IS NOT NULL
        |)
        |SELECT user_id, count(*) AS n_steps,
        |       CAST(sum(CASE WHEN sp > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |       floor(CAST(sum(CASE WHEN sp > 50 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*) * 1e4) / 1e4 AS outlier_rate,
        |       CAST(max(sp) AS BIGINT) AS max_speed_mps
        |FROM sp GROUP BY user_id ORDER BY user_id""".stripMargin,
    "geo_path_length" ->
      """WITH pts AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CAST(concat('0x', substring(md5(concat('px:', CAST(event_id AS VARCHAR))),
        |           1, 12)) AS BIGINT) % 1000000 AS px,
        |         CAST(concat('0x', substring(md5(concat('py:', CAST(event_id AS VARCHAR))),
        |           1, 12)) AS BIGINT) % 1000000 AS py
        |  FROM events
        |),
        |seg AS (
        |  SELECT user_id, px, py,
        |         lag(px) OVER w AS lx, lag(py) OVER w AS ly,
        |         row_number() OVER w AS ra,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts DESC, event_id DESC) AS rd
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |),
        |agg AS (
        |  SELECT user_id, count(*) AS n_points,
        |         CAST(coalesce(sum(CASE WHEN lx IS NOT NULL THEN
        |           CAST(floor(sqrt(CAST((px - lx) * (px - lx)
        |             + (py - ly) * (py - ly) AS DOUBLE))) AS BIGINT) END), 0) AS BIGINT)
        |           AS path_m,
        |         max(CASE WHEN ra = 1 THEN px END) AS fx,
        |         max(CASE WHEN ra = 1 THEN py END) AS fy,
        |         max(CASE WHEN rd = 1 THEN px END) AS gx,
        |         max(CASE WHEN rd = 1 THEN py END) AS gy
        |  FROM seg GROUP BY 1
        |),
        |fin AS (
        |  SELECT user_id, CAST(n_points AS BIGINT) AS n_points, path_m,
        |         CAST(floor(sqrt(CAST((gx - fx) * (gx - fx)
        |           + (gy - fy) * (gy - fy) AS DOUBLE))) AS BIGINT) AS disp_m
        |  FROM agg
        |)
        |SELECT user_id, n_points, path_m, disp_m,
        |       CASE WHEN path_m > 0 THEN
        |         floor(CAST(disp_m AS DOUBLE) / CAST(path_m AS DOUBLE) * 1e4) / 1e4
        |       END AS straightness
        |FROM fin ORDER BY user_id""".stripMargin,
    "geo_od_matrix" ->
      """WITH pts AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         CAST(concat('0x', substring(md5(concat('px:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS px,
        |         CAST(concat('0x', substring(md5(concat('py:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS py
        |  FROM events
        |),
        |c AS (
        |  SELECT user_id, ts, event_id, px // 100000 AS cx, py // 100000 AS cy
        |  FROM pts
        |),
        |mv AS (
        |  SELECT *, lag(cx) OVER w AS fx, lag(cy) OVER w AS fy
        |  FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT fx, fy, cx, cy, count(*) AS n_trips,
        |       count(DISTINCT user_id) AS n_users
        |FROM mv
        |WHERE fx IS NOT NULL AND (fx <> cx OR fy <> cy)
        |GROUP BY 1, 2, 3, 4
        |ORDER BY fx, fy, cx, cy""".stripMargin,
    "geo_stay_points" ->
      """WITH pts AS (
        |  SELECT user_id, event_id,
        |         CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec,
        |         CAST(concat('0x', substring(md5(concat('sm:', CAST(event_id AS VARCHAR))), 1, 4)) AS BIGINT) % 4 AS m,
        |         CAST(concat('0x', substring(md5(concat('hx:', CAST(user_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS hx,
        |         CAST(concat('0x', substring(md5(concat('hy:', CAST(user_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS hy,
        |         CAST(concat('0x', substring(md5(concat('px:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS ux,
        |         CAST(concat('0x', substring(md5(concat('py:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS uy,
        |         CAST(concat('0x', substring(md5(concat('jx:', CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4001 - 2000 AS jx,
        |         CAST(concat('0x', substring(md5(concat('jy:', CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4001 - 2000 AS jy
        |  FROM events
        |),
        |p2 AS (
        |  SELECT user_id, ts_sec, event_id,
        |         CASE WHEN m = 0 THEN hx + jx ELSE ux END AS px,
        |         CASE WHEN m = 0 THEN hy + jy ELSE uy END AS py
        |  FROM pts
        |),
        |f AS (
        |  SELECT *, CASE WHEN lx IS NULL OR
        |                  (px - lx) * (px - lx) + (py - ly) * (py - ly) > 36000000
        |                 THEN 1 ELSE 0 END AS brk
        |  FROM (SELECT *, lag(px) OVER w AS lx, lag(py) OVER w AS ly FROM p2
        |        WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
        |),
        |g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS stay_id
        |  FROM f
        |),
        |st AS (
        |  SELECT user_id, stay_id, count(*) AS n_points,
        |         min(ts_sec) AS from_sec, max(ts_sec) AS to_sec,
        |         sum(px) // count(*) AS cx, sum(py) // count(*) AS cy
        |  FROM g GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(stay_id AS BIGINT) AS stay_id,
        |       CAST(n_points AS BIGINT) AS n_points, from_sec, to_sec,
        |       to_sec - from_sec AS duration_sec,
        |       CAST(cx AS BIGINT) AS cx, CAST(cy AS BIGINT) AS cy
        |FROM st WHERE n_points >= 3
        |ORDER BY user_id, stay_id""".stripMargin,
    "geo_comovement" ->
      """WITH pts AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr, event_id,
        |         CAST(concat('0x', substring(md5(concat('px:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS px,
        |         CAST(concat('0x', substring(md5(concat('py:', CAST(event_id AS VARCHAR))), 1, 12)) AS BIGINT) % 1000000 AS py
        |  FROM events
        |),
        |rep AS (
        |  SELECT user_id, hr, px, py FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, hr ORDER BY event_id) AS rn
        |    FROM pts
        |  ) WHERE rn = 1
        |),
        |p AS (
        |  SELECT a.user_id AS u1, b.user_id AS u2, a.hr
        |  FROM rep a JOIN rep b ON a.hr = b.hr AND a.user_id < b.user_id
        |  WHERE (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
        |        <= 10000000000
        |)
        |SELECT u1, u2, count(*) AS n_hours, min(hr) AS first_hr, max(hr) AS last_hr
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY u1, u2""".stripMargin,
    "geo_geohash" -> {
      val lonBits = "LEAST((((lon + 180000000) * 32768) // 360000000), 32767)"
      val latBits = "LEAST((((lat + 90000000) * 32768) // 180000000), 32767)"
      val morton = (0 to 14).map { i =>
        s"(($lonBits // ${1L << (14 - i)}) % 2) * ${1L << (29 - 2 * i)}" +
          s" + (($latBits // ${1L << (14 - i)}) % 2) * ${1L << (28 - 2 * i)}"
      }.mkString(" + ")
      val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
      val chars = (0 to 5).map { c =>
        s"substring('$alphabet', CAST((g // ${1L << (5 * (5 - c))}) % 32 AS INT) + 1, 1)"
      }.mkString("concat(", ", ", ")")
      s"""WITH s AS (
         |  SELECT s_suppkey, ${geodeticSql("hlats:", "hlons:", "s_suppkey")}
         |  FROM supplier
         |),
         |gg AS (SELECT s_suppkey, lat, lon, $morton AS g FROM s)
         |SELECT s_suppkey, lat, lon, $chars AS geohash
         |FROM gg ORDER BY s_suppkey""".stripMargin
    },
    "geo_point_in_poly" ->
      s"""WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |         ${coordSql("gxc:", "c_custkey")} AS cx,
        |         ${coordSql("gyc:", "c_custkey")} AS cy
        |  FROM customer
        |),
        |t AS (
        |  SELECT c_nationkey, c_custkey,
        |         ((${polyCrossingsExpr("cx", "cy")}) % 2) = 1 AS inside
        |  FROM c
        |)
        |SELECT CAST(c_nationkey AS BIGINT) AS nation, count(*) AS n_cust,
        |       CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
        |       CAST(sum(CASE WHEN inside THEN c_custkey ELSE 0 END) AS BIGINT)
        |         AS sum_key_inside
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,
    // brute-force all-pairs ground truth: the hull shortcut must reproduce
    // it exactly, tie rule included
    "geo_hull_diameter" ->
      s"""WITH s AS (
        |  SELECT s_suppkey, CAST(nt.n_regionkey AS BIGINT) AS region,
        |         ${coordSql("gxs:", "s_suppkey")} AS sx,
        |         ${coordSql("gys:", "s_suppkey")} AS sy
        |  FROM supplier JOIN nation nt ON s_nationkey = nt.n_nationkey
        |),
        |p AS (
        |  SELECT a.region, a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |         (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy) AS d2
        |  FROM s a JOIN s b
        |    ON a.region = b.region AND a.s_suppkey < b.s_suppkey
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY region
        |                               ORDER BY d2 DESC, a_id, b_id) AS rn
        |  FROM p
        |),
        |n AS (SELECT region, count(*) AS n_sup FROM s GROUP BY 1)
        |SELECT r.region, n.n_sup, r.a_id, r.b_id, r.d2 AS d2_meters
        |FROM r JOIN n ON r.region = n.region
        |WHERE rn = 1 ORDER BY r.region""".stripMargin,
    "geo_diameter" ->
      s"""WITH s AS (
        |  SELECT s_suppkey, nt.n_regionkey AS region,
        |         ${coordSql("gxs:", "s_suppkey")} AS sx,
        |         ${coordSql("gys:", "s_suppkey")} AS sy
        |  FROM supplier JOIN nation nt ON s_nationkey = nt.n_nationkey
        |),
        |p AS (
        |  SELECT a.region, a.s_suppkey AS a_id, b.s_suppkey AS b_id,
        |         (a.sx - b.sx) * (a.sx - b.sx) + (a.sy - b.sy) * (a.sy - b.sy) AS d2
        |  FROM s a JOIN s b
        |    ON a.region = b.region AND a.s_suppkey < b.s_suppkey
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY region
        |                               ORDER BY d2 DESC, a_id, b_id) AS rn
        |  FROM p
        |),
        |n AS (SELECT region, count(*) AS n_sup FROM s GROUP BY 1)
        |SELECT r.region, n.n_sup, r.a_id, r.b_id, r.d2 AS d2_meters
        |FROM r JOIN n ON r.region = n.region
        |WHERE rn = 1 ORDER BY r.region""".stripMargin,
  )
}
