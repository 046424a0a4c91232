package graft.ops

import org.apache.spark.sql.functions._

/** Density-clustering wave: grid-bucketed DBSCAN — core cells by
  * density threshold, clusters as 8-connected components of core cells,
  * border cells adopted by their (min-label) adjacent cluster, the rest
  * noise. This is the clustering family's density member: k-means (q80)
  * is centroid-shaped, SemDeDup (q227) is similarity-shaped; DBSCAN
  * finds arbitrary-shape dense regions and an explicit noise set.
  *
  * Scale shape: the corpus collapses to the grid-cell census in one
  * scan (the canonical grid-DBSCAN scale-out: neighborhood queries
  * become cell-key equi-joins, never point-pairs); the connected-
  * components fixpoint ([[GraphOps.connectedComponents]], a min-fold
  * datalog program) runs on the model-sized core-cell graph.
  * The density threshold is data-derived (max(3, ceil(mean occupancy)))
  * so the operator is parameter-stable across scale factors.
  */
object GridClusterOps {

  /** DBSCAN over parts in (retailprice × size) space, Δ = (100, 5):
    * per-cluster core/border cell and point counts + global noise. */
  val q415GridDbscan: QueryDef = QueryDef(
    "q415_grid_dbscan",
    (s, dir) => {
      val cells = Tables(s, dir).part
        .select(floor(col("p_retailprice") / 100.0).cast("long").as("cx"),
          floor(col("p_size") / 5.0).cast("long").as("cy"))
        .groupBy(col("cx"), col("cy"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("key", col("cx") * 1000 + col("cy"))
        .localCheckpoint() // read by stat, core, border, and counts
      val stat = cells.agg(sum(col("cnt")).as("n_pts"),
        count(lit(1)).as("n_cells"))
        .select(greatest(lit(3L),
          ceil(col("n_pts").cast("double") / col("n_cells")).cast("long"))
          .as("min_pts"), col("n_pts"))
      val flagged = cells.crossJoin(broadcast(stat))
      val core = flagged.where(col("cnt") >= col("min_pts"))
        .select(col("cx"), col("cy"), col("key"), col("cnt"))
        .localCheckpoint()
      import s.implicits._
      val offs = Seq(-1L, 0L, 1L)
        .flatMap(dx => Seq(-1L, 0L, 1L).map(dy => (dx, dy)))
        .toDF("dx", "dy")
      // core→core 8-neighbourhood as an equi-join on shifted coords
      val adj = core.crossJoin(broadcast(offs))
        .select(col("key").as("src"), (col("cx") + col("dx")).as("nx"),
          (col("cy") + col("dy")).as("ny"))
        .join(core.select(col("cx").as("nx"), col("cy").as("ny"),
          col("key").as("dst")), Seq("nx", "ny"))
        .select(col("src"), col("dst"))
        .localCheckpoint()
      // min-label components of the model-sized cell graph (every core
      // cell is its own neighbour, so each one gets a label)
      val labels = GraphOps.connectedComponents(s,
        adj.select(col("src").as("id_a"), col("dst").as("id_b")))
        .select(col("id").as("cell"), col("label").as("lbl"))
      // border: non-core cells adjacent to a core cell adopt the min label
      val nonCore = flagged.where(col("cnt") < col("min_pts"))
      val border = nonCore.crossJoin(broadcast(offs))
        .select(col("key"), col("cnt"), (col("cx") + col("dx")).as("nx"),
          (col("cy") + col("dy")).as("ny"))
        .join(core.select(col("cx").as("nx"), col("cy").as("ny"),
          col("key").as("ck")), Seq("nx", "ny"))
        .join(labels.select(col("cell").as("ck"), col("lbl")), Seq("ck"))
        .groupBy(col("key"))
        .agg(min(col("lbl")).as("lbl"), first(col("cnt")).as("cnt"))
      val coreAgg = labels
        .join(cells.select(col("key").as("cell"), col("cnt")), Seq("cell"))
        .groupBy(col("lbl"))
        .agg(count(lit(1)).as("core_cells"), sum(col("cnt")).as("core_pts"))
      val borderAgg = border.groupBy(col("lbl"))
        .agg(count(lit(1)).as("border_cells"), sum(col("cnt")).as("border_pts"))
      val clusters = coreAgg.join(borderAgg, Seq("lbl"), "left")
        .na.fill(0L, Seq("border_cells", "border_pts"))
      val noise = clusters
        .agg(sum(col("core_pts") + col("border_pts")).as("clustered"))
        .crossJoin(broadcast(stat.select(col("n_pts"))))
        .select((col("n_pts") - col("clustered")).as("noise_pts"))
      clusters.crossJoin(broadcast(noise))
        .select(col("lbl").as("cluster"), col("core_cells"),
          col("border_cells"), col("core_pts"), col("border_pts"),
          col("noise_pts"))
        .orderBy(col("cluster"))
    },
    Some("""WITH RECURSIVE cells AS (SELECT
          CAST(floor(p_retailprice / 100.0) AS BIGINT) AS cx,
          CAST(floor(p_size / 5.0) AS BIGINT) AS cy,
          CAST(COUNT(*) AS BIGINT) AS cnt
        FROM part GROUP BY 1, 2),
      ck AS (SELECT *, cx * 1000 + cy AS key FROM cells),
      stat AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_pts,
          greatest(3, CAST(ceil(CAST(SUM(cnt) AS DOUBLE) / COUNT(*)) AS BIGINT))
            AS min_pts
        FROM cells),
      core AS (SELECT c.* FROM ck c, stat WHERE c.cnt >= stat.min_pts),
      adj AS (SELECT a.key AS src, b.key AS dst
        FROM core a JOIN core b
          ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
      rec(cell, lbl) AS (
        SELECT key, key FROM core
        UNION
        SELECT a.dst, r.lbl FROM rec r JOIN adj a ON a.src = r.cell),
      minlab AS (SELECT cell, MIN(lbl) AS lbl FROM rec GROUP BY 1),
      border AS (SELECT nc.key, MIN(ml.lbl) AS lbl,
          ANY_VALUE(nc.cnt) AS cnt
        FROM (SELECT c.* FROM ck c, stat WHERE c.cnt < stat.min_pts) nc
        JOIN core c ON abs(nc.cx - c.cx) <= 1 AND abs(nc.cy - c.cy) <= 1
        JOIN minlab ml ON ml.cell = c.key
        GROUP BY nc.key),
      coreagg AS (SELECT ml.lbl, CAST(COUNT(*) AS BIGINT) AS core_cells,
          CAST(SUM(c.cnt) AS BIGINT) AS core_pts
        FROM minlab ml JOIN ck c ON c.key = ml.cell GROUP BY 1),
      borderagg AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS border_cells,
          CAST(SUM(cnt) AS BIGINT) AS border_pts
        FROM border GROUP BY 1),
      clusters AS (SELECT ca.lbl,
          ca.core_cells, COALESCE(ba.border_cells, 0) AS border_cells,
          ca.core_pts, COALESCE(ba.border_pts, 0) AS border_pts
        FROM coreagg ca LEFT JOIN borderagg ba ON ba.lbl = ca.lbl),
      noise AS (SELECT stat.n_pts
          - (SELECT SUM(core_pts + border_pts) FROM clusters) AS noise_pts
        FROM stat)
      SELECT c.lbl AS cluster, c.core_cells, c.border_cells,
        c.core_pts, c.border_pts, CAST(n.noise_pts AS BIGINT) AS noise_pts
      FROM clusters c, noise n ORDER BY cluster"""))

  val all: Seq[QueryDef] = Seq(q415GridDbscan)
}
