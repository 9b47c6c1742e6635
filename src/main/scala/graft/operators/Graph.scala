package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, LoopFrames}

/** Graph operators over edge frames.
  *
  * Scale design: everything is edge-frame relational algebra — an
  * iteration is one join (ranks onto edge sources) + one aggregate
  * (contributions by destination), both shuffling on node ids. No
  * adjacency lists are ever collected; nothing driver-side grows with
  * the graph.
  *
  * Determinism design (the 100 TB reproducibility problem): a float
  * PageRank differs run-to-run because the per-destination sum order
  * depends on partitioning. Here each contribution rank/outdeg is
  * floor-quantized on the 1e-12 grid (a double within 1 ulp of
  * k/1e12 is never near a half-quantum, so both engines' decimal
  * casts agree exactly), then summed as exact decimals — the result
  * is bit-identical at any parallelism, and the DuckDB oracle can
  * unroll the same iterations op-for-op.
  */
object Graph {

  /** PageRank with uniform init and damping, `iterations` synchronous
    * rounds. `edges` must carry `src`/`dst` long columns; dangling
    * nodes (no out-edges) keep only the teleport term — for symmetric
    * edge sets (co-occurrence graphs) none exist. Returns
    * (node, rank). */
  def pageRank(edges: DataFrame, iterations: Int,
               damping: Double = 0.85, scale: Int = 12,
               checkpointEvery: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    // persist, not localCheckpoint, for the STATIC frames (edges,
    // nodes, degree-joined edges): graph-fact-sized, multi-scanned
    // across iterations, no lineage growth — recomputable spill is
    // the executor-loss-survivable shape. Only the loop-carried
    // `ranks` below needs an actual lineage cut.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst")).persist(lvl)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(lvl)
    val n = nodes.count()
    if (n == 0) return spark.emptyDataFrame
      .withColumn("node", lit(0L)).withColumn("rank", lit(0.0)).limit(0)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
    val ew = e.join(outdeg, "src").persist(lvl)   // (src, dst, _deg)
    rankRounds(ew, nodes, nodes.withColumn("rank", lit(1.0 / n)),
      lit((1.0 - damping) / n), damping, scale, iterations, checkpointEvery)
  }

  /** The round loop of [[pageRank]] and [[personalizedPageRank]]:
    * `iterations` synchronous rounds from `init` over the degree-
    * joined edges `ew` (src, dst, _deg). A round's rank for each
    * `base` node is `teleport` (a column of `base`) plus the damped,
    * quantized contribution sum. */
  private def rankRounds(ew: DataFrame, base: DataFrame, init: DataFrame,
                         teleport: Column, damping: Double, scale: Int,
                         iterations: Int, checkpointEvery: Int): DataFrame = {
    val f = math.pow(10, scale)
    val frames = new LoopFrames
    var ranks = init
    for (i <- 1 to iterations) {
      val contribs = ew.join(ranks, ew("src") === ranks("node"))
        .select(col("dst"),
          (floor(col("rank") / col("_deg").cast(DoubleType) * f + 0.5) / f)
            .as("_c"))
      val sums = contribs.groupBy(col("dst"))
        .agg(Det.dsum(col("_c"), scale).as("_s"))
      ranks = base.join(sums, base("node") === sums("dst"), "left")
        .select(base("node"),
          (teleport + lit(damping) * coalesce(col("_s"), lit(0.0))).as("rank"))
      // a checkpoint per round is an eager materialization job each
      // time; lineage only needs cutting every few rounds (long-run
      // plan-depth control), so short runs stay ONE job
      if (i % checkpointEvery == 0 && i < iterations)
        // CP-OK: loop-carried state — lineage GROWS each round and
        // must be cut; the frame is node-sized (narrow), and persist
        // cannot bound plan depth here
        ranks = frames.cut(ranks)
    }
    ranks
  }

  /** Degree distribution of an undirected edge frame: one row per
    * distinct degree with the node count — the graph-shaped skew
    * diagnostic (a heavy tail here says: orient before wedges, salt
    * before joins). Two aggregates, output ∝ distinct degrees. */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
  }

  /** Triangle count + global clustering coefficient via DEGREE-ORDERED
    * orientation — the classic scale trick: each undirected edge is
    * directed from its (degree, id)-smaller endpoint to the larger,
    * so every triangle is counted exactly once from its smallest
    * corner and a hub of degree d generates wedges bounded by the
    * ORIENTED out-degree (≈ graph degeneracy), not d² — the
    * difference between feasible and not on skewed 100 TB graphs.
    * Wedge↔edge matching is one equi-join on the (v, w) pair.
    * Returns one row: nodes, undirected edges, wedges (Σ C(deg,2)),
    * triangles, clustering coefficient 3·tri/wedges (1e-6 floor
    * grid). */
  def triangleStats(edges: DataFrame): DataFrame = {
    // NO persist and NO localCheckpoint here (r12): `und` ends in a
    // distinct — an Exchange — and every consumer references the
    // identical subtree, so ReuseExchange computes it once and the
    // shuffle files serve all scans (recomputable on executor loss,
    // nothing pinned). The r10 localCheckpoint pinned unrecoverable
    // blocks; the r11 persist conversion paid a measured ~1 s of
    // InMemoryTableScan/cache-lock overhead per run at sf0.1
    // (2.3-2.6 s vs 1.6 s same-window) — shuffle reuse gets the r10
    // number back with the r11 recoverability. `oriented` (no
    // Exchange at its root) is recomputed by its three consumers,
    // each time from the reused shuffles — two cheap joins; persist
    // it if a 100 TB profile shows those joins dominating.
    val und = edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low (deg, id) -> high; carry the endpoint degrees so the
    // wedge pass can order out-neighbor pairs without another join
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("_da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("_db")), "b")
      .select(
        when(struct(col("_da"), col("a")) < struct(col("_db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("_db").as("dd")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("_da").as("dd")))
          .as("e"))
      .select(col("e.src"), col("e.dst"), col("e.dd"))
    // out-neighbor pairs of u, emitted once in orientation order: the
    // closing edge of a triangle is then exactly (src = v, dst = w)
    val e1 = oriented.select(col("src").as("u"), col("dst").as("v"), col("dd").as("_dv"))
    val e2 = oriented.select(col("src").as("u"), col("dst").as("w"), col("dd").as("_dw"))
    val wedges = e1.join(e2, Seq("u"))
      .where(struct(col("_dv"), col("v")) < struct(col("_dw"), col("w")))
      .select(col("v"), col("w"))
    val tri = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val nTri = tri.agg(count(lit(1)).as("n_triangles"))
    val totals = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("deg")) / 2).cast(LongType).as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast(LongType).as("n_wedges"))
    totals.crossJoin(nTri).select(
      col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
      when(col("n_wedges") > 0,
        floor(col("n_triangles") * 3.0 / col("n_wedges") * 1e6 + 0.5) / 1e6)
        .otherwise(0.0).as("global_cc"))
  }

  /** Semi-supervised label propagation, `rounds` synchronous rounds:
    * seeded nodes keep their label forever; every other node adopts
    * the MAJORITY label among its labeled neighbors from the previous
    * round (ties by label ascending), keeping its previous label when
    * no neighbor is labeled yet. Vote counts are exact integers — no
    * float anywhere — so each round mirrors 1:1 in the unrolled SQL
    * ([[labelPropagationSql]]). Scale: a round is one edge⋈labels
    * join + one (node, label) count + one node-keyed window — the
    * [[pageRank]] iteration shape; unreached nodes stay null. */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, rounds: Int,
                       checkpointEvery: Int = 4): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persist, not localCheckpoint, for the STATIC frames (edges,
    // seeds): graph-fact-sized, rescanned every round, recomputable.
    val e = edges.select(col("src"), col("dst")).persist(lvl)
    // the loop frame CARRIES the seed label so a round needs only the
    // best-vote join — rejoining a separate seeds frame every round
    // costs an extra exchange per round (measured ~0.3 s/stage floor
    // on the tiny per-round frames)
    // each cut frees the rounds before it: a long loop holds at most
    // checkpointEvery round frames (ADVICE r12)
    val frames = new LoopFrames
    var cur = frames.keep(seeds.select(col("node"), col("seed_label"),
        col("seed_label").as("label")))
    for (i <- 1 to rounds) {
      // ONE exchange per vote round (r15): hash-partition the joined
      // edge rows by src first — HashPartitioning(src) satisfies the
      // vote count's ClusteredDistribution(src, _nl) (equal (src,
      // label) rows co-locate) and, via alias-aware propagation, the
      // best-vote window's ClusteredDistribution(_v). The previous
      // shape paid one exchange on (src,_nl) for the aggregate and a
      // second on _v for the window, every round (the nswTopK rescore
      // rule).
      val votes = graft.core.Tables.spread(
          e.join(
            cur.where(col("label").isNotNull)
              .select(col("node").as("_nb"), col("label").as("_nl")),
            e("dst") === col("_nb"))
          .select(col("src"), col("_nl")), col("src"))
        .groupBy(col("src").as("_v"), col("_nl"))
        .agg(count(lit(1)).as("_c"))
      val best = GroupOps.topKPerGroup(votes, Seq("_v"), Seq(col("_c").desc, col("_nl")), 1)
        .select(col("_v").as("node"), col("_nl").as("_best"))
      // persist each round's frame: cur is referenced TWICE per round
      // (the vote join and the label join-back), so an uncached
      // loop frame recomputes 2^rounds times — the r11 ScaleStudy
      // superlinearity (k=16 ratio 3.4 -> 1.x after this persist).
      // Node-sized and recomputable.
      cur = frames.keep(cur.join(best, Seq("node"), "left")
        .select(col("node"), col("seed_label"),
          coalesce(col("seed_label"), col("_best"), col("label")).as("label")))
      if (i % checkpointEvery == 0 && i < rounds)
        // CP-OK: loop-carried state — lineage grows each round and
        // must be cut; node-sized (narrow)
        cur = frames.cut(cur)
    }
    cur.select(col("node"), col("label"))
  }

  /** PERSONALIZED PageRank (the recommendation/similar-items variant):
    * teleport mass restarts at the SEED set instead of uniformly —
    * rank r+1 = (1−d)·1[seed]/|S| + d·Σ contribs. Same iteration
    * machinery, determinism recipe (1e-12 floor-quantized
    * contributions, exact decimal sums) and unrolled SQL twin as
    * [[pageRank]]; non-seed nodes start (and teleport) at zero, so
    * rank measures proximity to the seeds. `seeds` = (node) frame. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int, damping: Double = 0.85,
                           scale: Int = 12,
                           checkpointEvery: Int = 4): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst")).persist(lvl)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(lvl)
    // seed membership carried on the node frame — one broadcastable
    // dimension join, reused every round for the teleport term
    val sd = seeds.select(col("node")).distinct()
    val marked = nodes.join(sd.withColumn("_isSeed", lit(true)), Seq("node"), "left")
      .select(col("node"), coalesce(col("_isSeed"), lit(false)).as("_isSeed"))
      .persist(lvl)
    // BOUNDED: single-row seed-count aggregate
    val nSeeds = marked.where(col("_isSeed")).count()
    require(nSeeds > 0, "personalized PageRank needs a non-empty seed set")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("_deg"))
    val ew = e.join(outdeg, "src").persist(lvl)
    rankRounds(ew, marked,
      marked.select(col("node"),
        when(col("_isSeed"), lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("rank")),
      when(col("_isSeed"), lit((1.0 - damping) / nSeeds)).otherwise(lit(0.0)),
      damping, scale, iterations, checkpointEvery)
  }

  /** Unrolled SQL twin of [[personalizedPageRank]]: `edgesSql` yields
    * (src, dst), `seedsSql` yields the seed (node) rows. */
  def personalizedPageRankSql(edgesSql: String, seedsSql: String,
                              iterations: Int, damping: Double = 0.85,
                              scale: Int = 12): String = {
    val f = s"1e$scale"
    def iter(i: Int): String = {
      val last = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst,
            floor(r.rank / CAST(e.deg AS DOUBLE) * $f + 0.5) / $f AS c
          FROM ew e JOIN $last r ON e.src = r.node),
          s$i AS (SELECT dst, CAST(sum(CAST(c AS DECIMAL(30,$scale))) AS DOUBLE) AS s
            FROM c$i GROUP BY dst),
          r$i AS (SELECT n.node,
            (CASE WHEN n.is_seed THEN (CAST(1 AS DOUBLE) - $damping) / sc.ns
                  ELSE CAST(0 AS DOUBLE) END)
              + $damping * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
          FROM marked n CROSS JOIN scount sc LEFT JOIN s$i s ON n.node = s.dst)"""
    }
    s"""WITH e AS ($edgesSql),
        sd AS (SELECT DISTINCT node FROM ($seedsSql)),
        nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
        marked AS (SELECT n.node, sd.node IS NOT NULL AS is_seed
          FROM nodes n LEFT JOIN sd ON n.node = sd.node),
        scount AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM marked WHERE is_seed),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        ew AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
        r0 AS (SELECT n.node,
            CASE WHEN n.is_seed THEN CAST(1 AS DOUBLE) / sc.ns
                 ELSE CAST(0 AS DOUBLE) END AS rank
          FROM marked n CROSS JOIN scount sc),
        ${(1 to iterations).map(iter).mkString(",\n        ")}
        SELECT node, rank FROM r$iterations ORDER BY node"""
  }

  /** k-core peeling, `rounds` synchronous rounds: repeatedly drop
    * every node whose degree in the SURVIVING subgraph is < k (and
    * all its edges). After enough rounds this converges to the
    * k-core; like [[labelPropagation]] the round count is a fixed,
    * documented parameter so the unrolled SQL twin is finite.
    * Returns the surviving nodes with their residual degree.
    *
    * Scale shape: a round is one degree aggregate (union + count,
    * map-side partials) + two semi-join-shaped equi-joins back onto
    * the edge frame — everything keyed on node ids, no all-pairs.
    * Each round's edge frame persists (recomputable, spills): it is
    * referenced by the degree aggregate AND next round's join, and
    * an uncached loop frame recomputes geometrically (the
    * m13_label_prop lesson, r12). */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int,
                checkpointEvery: Int = 4): DataFrame = {
    def degrees(e: DataFrame): DataFrame =
      // ONE scan per degree pass: each edge explodes to both
      // endpoints (a unionAll would scan the cached frame twice)
      e.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    // each cut frees the rounds before it (the labelPropagation rule;
    // dormant at the registry's rounds=3)
    val frames = new LoopFrames
    var e = frames.keep(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct())
    for (i <- 1 to rounds) {
      val kept = degrees(e).where(col("deg") >= k).select("node")
      // the survivor set is node-sized — here bounded by the part
      // dimension, so it BROADCASTS and a peel round never shuffles
      // the edge frame (only the degree aggregate exchanges)
      def side(c: String) = broadcast(kept.withColumnRenamed("node", c))
      // the LAST round's edge frame is consumed exactly ONCE (the
      // final degree pass) — persisting it is a pure cache-write tax
      // (the dbscan stays-LAZY rule, r16); every earlier round's frame
      // feeds its round's degree aggregate AND the next round's join
      val joined = e.join(side("a"), Seq("a")).join(side("b"), Seq("b"))
        .select(col("a"), col("b"))
      e = if (i < rounds) frames.keep(joined) else joined
      if (i % checkpointEvery == 0 && i < rounds)
        // CP-OK: loop-carried state — lineage grows each round and
        // must be cut; edge-frame-sized
        e = frames.cut(e)
    }
    degrees(e)
  }

  /** Unrolled SQL twin of [[kcorePeel]]: `edgesSql` yields
    * (src, dst). */
  def kcorePeelSql(edgesSql: String, k: Int, rounds: Int): String = {
    def round(i: Int): String = {
      val last = s"e${i - 1}"
      s"""d$i AS (SELECT node, count(*) AS deg FROM
            (SELECT unnest([a, b]) AS node FROM $last)
            GROUP BY node),
          k$i AS (SELECT node FROM d$i WHERE deg >= $k),
          e$i AS (SELECT e.a, e.b FROM $last e
            JOIN k$i x ON e.a = x.node JOIN k$i y ON e.b = y.node)"""
    }
    s"""WITH ee AS ($edgesSql),
        e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM ee WHERE src <> dst),
        ${(1 to rounds).map(round).mkString(",\n        ")}
        SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
          (SELECT unnest([a, b]) AS node FROM e$rounds)
        GROUP BY node ORDER BY node"""
  }

  /** Unrolled SQL twin of [[labelPropagation]]: `edgesSql` yields
    * (src, dst), `seedsSql` yields (node, seed_label) for EVERY node. */
  def labelPropagationSql(edgesSql: String, seedsSql: String,
                          rounds: Int): String = {
    def iter(i: Int): String = {
      val last = s"r${i - 1}"
      s"""c$i AS (SELECT e.src AS v, r.label AS nl, count(*) AS c
            FROM e JOIN $last r ON e.dst = r.node
            WHERE r.label IS NOT NULL GROUP BY e.src, r.label),
          b$i AS (SELECT v, nl FROM (SELECT v, nl,
              ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, nl) AS rn
            FROM c$i) WHERE rn = 1),
          r$i AS (SELECT p.node, p.seed_label,
              coalesce(p.seed_label, b.nl, p.label) AS label
            FROM $last p LEFT JOIN b$i b ON p.node = b.v)"""
    }
    s"""WITH e AS ($edgesSql),
        seeds AS ($seedsSql),
        r0 AS (SELECT node, seed_label, seed_label AS label FROM seeds),
        ${(1 to rounds).map(iter).mkString(",\n        ")}
        SELECT node, label FROM r$rounds ORDER BY node"""
  }

  /** The same computation as DuckDB SQL (iterations unrolled), for
    * the oracle: `edgesSql` must yield (src, dst). Every float op
    * mirrors [[pageRank]]: IEEE division, 1e-12 floor quantization,
    * exact decimal sums, teleport + damping in the same order. */
  def pageRankSql(edgesSql: String, iterations: Int,
                  damping: Double = 0.85, scale: Int = 12): String = {
    val f = s"1e$scale"
    def iter(i: Int): String = {
      val last = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (SELECT e.dst,
            floor(r.rank / CAST(e.deg AS DOUBLE) * $f + 0.5) / $f AS c
          FROM ew e JOIN $last r ON e.src = r.node),
          s$i AS (SELECT dst, CAST(sum(CAST(c AS DECIMAL(30,$scale))) AS DOUBLE) AS s
            FROM c$i GROUP BY dst),
          r$i AS (SELECT n.node,
            (CAST(1 AS DOUBLE) - $damping) / nn.n
              + $damping * coalesce(s.s, CAST(0 AS DOUBLE)) AS rank
          FROM nodes n CROSS JOIN ncount nn LEFT JOIN s$i s ON n.node = s.dst)"""
    }
    s"""WITH e AS ($edgesSql),
        nodes AS (SELECT DISTINCT src AS node FROM e
          UNION SELECT DISTINCT dst FROM e),
        ncount AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        ew AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
        r0 AS (SELECT n.node, CAST(1 AS DOUBLE) / nn.n AS rank
          FROM nodes n CROSS JOIN ncount nn),
        ${(1 to iterations).map(iter).mkString(",\n        ")}
        SELECT node, rank FROM r$iterations ORDER BY node"""
  }
}
