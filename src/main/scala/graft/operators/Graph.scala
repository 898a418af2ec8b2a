package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Link-graph analytics for corpus curation — at web scale the
  * strongest document-quality prior is the GRAPH (which domains link
  * which), not the text: crawl pipelines rank pages/domains and feed
  * the rank into sampling weights and quality gates.
  *
  * Everything here follows the engine's exact-replay discipline: rank
  * mass lives in integer MICRO-UNITS (1e-6) end to end — per-edge
  * contributions are integer division, per-node sums are long sums —
  * so every iteration is bit-reproducible on any SQL engine and the
  * DuckDB oracle replays the whole fixed-point loop, not just the
  * final shape. One final division renders the ranks as doubles.
  */
object Graph {

  /** PageRank (Page et al. 1999), the simplified no-dangling-
    * redistribution form (mass flowing into sink nodes is dropped,
    * as in the classic Pregel/GraphX formulation): for damping d,
    *
    *   rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u)/outdeg(u)
    *
    * computed entirely in integer micro-units: rank_u(v) starts at
    * `1e6 div N`, each edge carries `(rank_u(u) * dampingPct) div
    * (outdeg(u) * 100)`, and the per-node fold is a long sum — no
    * float crosses an aggregation, so iteration k's state is
    * IDENTICAL across engines and the oracle can replay k rounds as
    * unrolled CTEs. `dampingPct` is the damping factor in percent
    * (85 = the canonical 0.85) to keep the arithmetic integral.
    *
    * 100 TB shape: `edges` is deduped, gets its out-degree attached
    * ONCE, is hash-partitioned by `src`, and is localCheckpointed —
    * the |E|-row table never moves again. Each iteration then costs
    * two |V|-bounded shuffles: the rank table (one row per node)
    * hashes to meet the edge partitioning for the src join, and the
    * contribution sum shuffles on dst with map-side partials.
    * Lineage is cut every `checkpointInterval` rounds (the
    * [[Dedup.connectedComponents]] pattern) — short runs stay ONE
    * pipelined job (no per-round materialization tax), long runs
    * never hand the optimizer an unbounded plan. Driver holds nothing
    * but the node count.
    *
    * Output: (node, rank) with rank = micro-units / 1e6 rounded to 6
    * decimals. Ranks sum to ≤ 1 (dangling loss + floor truncation —
    * ~|V| micro-units of deterministic rounding deficit). */
  def pageRank(edges: DataFrame, src: String = "src",
      dst: String = "dst", iters: Int = 5,
      dampingPct: Int = 85, checkpointInterval: Int = 4): DataFrame = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct out of range: $dampingPct")
    val e = cleanEdges(edges, src, dst)
    // lazy + count (r18, one job instead of two): the count action is
    // the checkpoint's single-consumer materializer — it computes and
    // caches the blocks (and `e` underneath), so the loop's per-round
    // base-union branches read cached blocks
    val nodes = nodesOf(e).localCheckpoint(false)
    val n = nodes.count()
    require(n > 0,
      "pageRank: empty graph after null/self-loop filtering " +
        "(no (src, dst) pair with src <> dst)")
    // uniform teleport = personalization with every node a seed; one
    // shared loop keeps the two variants provably in sync (GraphSpec
    // pins uniform-seed PPR == pageRank)
    rankLoop(nodes.select(col("node"), lit(1L).as("seed")),
      edgesWithOutdeg(e), n, iters, dampingPct, checkpointInterval)
  }

  /** Personalized PageRank: identical micro-unit loop, but the
    * teleport mass lands ONLY on `seeds` (split evenly) instead of
    * uniformly — the "rank relative to a trusted set" variant
    * curation uses to score pages by proximity to known-good sources
    * (TrustRank, Gyöngyi et al. 2004). `seeds` is a 1-column frame of
    * node ids; non-seed nodes start (and teleport) at 0. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      src: String = "src", dst: String = "dst", iters: Int = 5,
      dampingPct: Int = 85, checkpointInterval: Int = 4): DataFrame = {
    val e = cleanEdges(edges, src, dst)
    // seeds normalized to the node-id type; broadcast-joined onto the
    // |V| rank table (the seed set is small by definition)
    val seedCol = seeds.columns.head
    val sd = seeds.select(col(seedCol).cast("long").as("node"))
      .distinct().localCheckpoint()
    val nodesAll = nodesOf(e)
      .join(broadcast(sd.select(col("node"), lit(1L).as("__seed"))),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("seed"))
      // lazy: the k fold below is the single-consumer materializer
      .localCheckpoint(false)
    // teleport denominator = seeds PRESENT in the graph (ADVICE r9): a
    // seed id absent from the edge list receives no rank row, so
    // dividing by the raw seed count would silently discard its share
    // of teleport mass — renormalize over the seeds that get mass
    val k = nodesAll.agg(coalesce(sum(col("seed")), lit(0L)))
      .head().getLong(0)
    require(k >= 1, "personalizedPageRank: no seed id appears in the " +
      "graph — teleport mass would have nowhere to land")
    rankLoop(nodesAll, edgesWithOutdeg(e), k, iters, dampingPct,
      checkpointInterval)
  }

  /** Edge-WEIGHTED PageRank: per-edge contribution proportional to
    * its weight share of the source's total out-weight — the link-
    * graph prior when edges carry multiplicity (anchor counts, crawl
    * frequencies, co-citation weights) instead of mere existence:
    *
    *   c(u→v) = (rank_u(u) · dampingPct · w(u,v)) div (wsum(u) · 100)
    *
    * Integer micro-units end to end (the [[pageRank]] discipline —
    * the oracle replays every round's state); parallel edges sum
    * their weights, non-positive weights are dropped with nulls and
    * self-loops. With all weights equal this is EXACTLY [[pageRank]]
    * (wsum = outdeg·w cancels — spec-pinned). Per-round cost is the
    * same two |V|-bounded shuffles over the pinned weighted-adjacency
    * table. Overflow headroom: rank_u ≤ 1e6 micro-units, so the
    * per-edge product stays in a long for weights up to ~9·10¹⁰ —
    * beyond any anchor-count scale. */
  def pageRankWeighted(edges: DataFrame, src: String = "src",
      dst: String = "dst", weight: String = "w", iters: Int = 5,
      dampingPct: Int = 85, checkpointInterval: Int = 4): DataFrame = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct out of range: $dampingPct")
    require(iters >= 1 && checkpointInterval >= 1,
      s"bad rank params: iters=$iters interval=$checkpointInterval")
    val e = edges
      .select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"),
        col(weight).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("w") > 0 && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      // three consumers (node union, wsum self-join ×2) — one compute
      .localCheckpoint(false)
    // nodes FIRST (r18, the block-lock rule): the count job reads `e`
    // through ONE consumer (the explode) and materializes the lazy
    // checkpoint AND `e`, so eo's self-join below — two concurrent
    // branches over e — reads cached blocks instead of racing the
    // per-block cache locks
    val nodes = nodesOf(e).localCheckpoint(false)
    val n = nodes.count()
    val eo = e.join(e.groupBy("src").agg(sum(col("w")).as("wsum")),
        "src")
      .repartition(col("src"))
      .localCheckpoint()
    require(n > 0,
      "pageRankWeighted: empty graph after null/weight/self-loop " +
        "filtering")
    val baseU = (100L - dampingPct) * 10000L / n
    var ranks = nodes.select(col("node"),
      lit(1000000L / n).as("rank_u"))
    for (round <- 1 to iters) {
      val contribs = eo.join(ranks, eo("src") === ranks("node"))
        .select(eo("dst"),
          expr(s"(rank_u * $dampingPct * w) div (wsum * 100)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodes.join(contribs, nodes("node") === contribs("dst"),
          "left")
        .select(nodes("node"),
          (lit(baseU) + coalesce(col("s"), lit(0L))).as("rank_u"))
      if (round % checkpointInterval == 0 && round < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks.select(col("node"), round(col("rank_u") / 1e6, 6).as("rank"))
  }

  /** Bipartite co-occurrence projection: from (actor, item) incidence
    * rows, the weighted item–item graph whose edge (a < b, w) counts
    * the actors touching BOTH — co-citation / co-click / co-link
    * graphs, the standard input to [[pageRankWeighted]] and
    * [[labelPropagation]] ("items that share audiences").
    *
    * Skew guard, NOT an option: a single hub actor with d items emits
    * d·(d−1)/2 pairs — one 10⁶-item crawler account would produce
    * 5·10¹¹ rows from one group. Actors with more than `maxDegree`
    * DISTINCT items are dropped whole (the standard practice in
    * co-occurrence mining: a hub's co-incidences are near-noise
    * anyway) and reported via the `droppedActors` hook so the cap is
    * observable, never silent. Per surviving actor the pair explode
    * is ≤ maxDegree²/2 — bounded fan-out, map-side combinable count
    * fold; `minCount` prunes the long noise tail before the result
    * materializes. Output: (a, b, w) with a < b. */
  def cooccurrenceProjection(incidence: DataFrame,
      actor: String = "actor", item: String = "item",
      maxDegree: Int = 1000, minCount: Long = 1L,
      droppedActors: Long => Unit = _ => ()): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2: $maxDegree")
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val inc = incidence
      .select(col(actor).cast("long").as("u"),
        col(item).cast("long").as("i"))
      .where(col("u").isNotNull && col("i").isNotNull)
      .distinct()
      // three consumers (degree build, both pair-explode sides)
      .localCheckpoint(false)
    val deg = inc.groupBy("u").agg(count(lit(1)).as("d"))
      .localCheckpoint(false) // feeds the drop count AND the anti-join
    droppedActors(deg.where(col("d") > maxDegree).count())
    val kept = inc.join(
      deg.where(col("d") > maxDegree).select("u"), Seq("u"),
      "left_anti")
    val l = kept.select(col("u"), col("i").as("a"))
    val r = kept.select(col("u"), col("i").as("b"))
    l.join(r, Seq("u"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .where(col("w") >= minCount)
  }

  /** Deduped, null-free, self-loop-free long-typed edge list. Lazily
    * checkpointed (r17): each checkpointing caller (pageRank,
    * personalizedPageRank, pageRankIndexWrite, randomWalks) reads it
    * three times — once in the node set ([[nodesOf]], one explode) and
    * twice where the edges join their own per-src groupBy (the
    * out-degree attach [[edgesWithOutdeg]], randomWalks' neighbour
    * table) — without the checkpoint the caller's WHOLE edge subtree
    * (q_textrank's vocab joins, a coproject explode, …) re-ran once
    * per consumer. Callers that immediately re-checkpoint
    * the result (hits' repartition + eager checkpoint) or wrap it in
    * their own lazy checkpoint (bfsHops) pass `checkpoint = false` —
    * the double block-manager residency bought nothing (ADVICE r17). */
  private def cleanEdges(edges: DataFrame, src: String,
      dst: String, checkpoint: Boolean = true): DataFrame = {
    val e = edges
      .select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    if (checkpoint) e.localCheckpoint(false) else e
  }

  /** Every endpoint of the clean edge list `e` once, as `node`. ONE
    * read of `e` (r17): the src/dst self-union read a checkpointed `e`
    * twice in the same stage — the second branch's tasks blocked on the
    * BlockManager per-block lock while the first computed each block;
    * explode gives the same distinct set. Not checkpointed: each caller
    * picks eager or lazy. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(explode(array(col("src"), col("dst"))).as("node")).distinct()

  /** The undirected simple graph of `edges`: ids cast to long, NULL
    * endpoints and self-loops dropped, each edge once as (a, b) with
    * a < b. Not checkpointed: each caller picks its own. */
  private def undirected(edges: DataFrame, src: String,
      dst: String): DataFrame =
    edges
      .select(col(src).cast("long").as("x"), col(dst).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .distinct()

  /** Out-degree attached to every edge row, hash-partitioned by src
    * and pinned — the |E|-row table every iteration probes without
    * moving it again. */
  private def edgesWithOutdeg(e: DataFrame): DataFrame =
    e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .repartition(col("src"))
      .localCheckpoint()

  /** The shared PageRank fixed-point loop over (node, seed) rows with
    * teleport-mass denominator `k`: per-edge contribution
    * `(rank_u · dampingPct) div (outdeg · 100)`, long sum per dst,
    * teleport floor `seed · ((100−d)·1e4 div k)`. Integer-only;
    * lineage cut every `checkpointInterval` rounds. */
  private def rankLoop(nodesSeed: DataFrame, eo: DataFrame, k: Long,
      iters: Int, dampingPct: Int, checkpointInterval: Int): DataFrame = {
    require(iters >= 1,
      s"bad rank params: iters=$iters")
    val initU = 1000000L / k
    val init = nodesSeed.select(col("node"), col("seed"),
      (col("seed") * initU).as("rank_u"))
    renderRanks(rankRounds(init, nodesSeed, eo, k, iters, dampingPct,
      checkpointInterval))
  }

  /** `iters` micro-unit rounds from an arbitrary (node, seed, rank_u)
    * state — the resumable core of [[rankLoop]]: checkpoint boundaries
    * are value-neutral, so round j's state is identical whether the
    * loop ran j rounds in one process or j−i here on a persisted
    * i-round state ([[pageRankResume]]). */
  private def rankRounds(init: DataFrame, nodesSeed: DataFrame,
      eo: DataFrame, k: Long, iters: Int, dampingPct: Int,
      checkpointInterval: Int): DataFrame = {
    require(iters >= 0 && checkpointInterval >= 1,
      s"bad rank params: iters=$iters interval=$checkpointInterval")
    val baseU = (100L - dampingPct) * 10000L / k
    var ranks = init
    for (round <- 1 to iters) {
      val contribs = eo.join(ranks, eo("src") === ranks("node"))
        // integer division throughout: exact, engine-independent
        .select(eo("dst"),
          expr(s"(rank_u * $dampingPct) div (outdeg * 100)").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("s"))
      ranks = nodesSeed.join(contribs,
          nodesSeed("node") === contribs("dst"), "left")
        .select(nodesSeed("node"), nodesSeed("seed"),
          (col("seed") * baseU + coalesce(col("s"), lit(0L)))
            .as("rank_u"))
      if (round % checkpointInterval == 0 && round < iters)
        ranks = ranks.localCheckpoint()
    }
    ranks
  }

  /** Final render: micro-units → 6-decimal double ranks. */
  private def renderRanks(state: DataFrame): DataFrame =
    state.select(col("node"),
      round(col("rank_u") / 1e6, 6).as("rank"))

  /** Persist the PageRank serving artifact (VERDICT r9 #3 — the
    * nightly-crawl warm-start story the dedup family already has):
    * under `path`,
    *   - `edges`: the cleaned, deduped, out-degree-annotated edge list
    *     — the |E|-row adjacency index every iteration probes, so a
    *     resume never re-pays the edge clean + degree shuffle;
    *   - `nodes`: (node, seed) — uniform seed flags (1 per node);
    *   - `ranks`: the exact integer micro-unit state (node, seed,
    *     rank_u) after `iters` rounds.
    * Because the state is integer-exact, a later [[pageRankResume]] of
    * k rounds produces BIT-IDENTICAL ranks to a cold (iters+k)-round
    * run — warm-starting is a pure cost optimization, never an
    * approximation. Plain parquet (a deployment would bucket `edges`
    * by src); staleness contract as any persisted index: rebuild when
    * the edge snapshot changes. `dampingPct` must match at resume (it
    * parameterizes the recurrence, not the artifact). */
  def pageRankIndexWrite(edges: DataFrame, path: String, iters: Int,
      src: String = "src", dst: String = "dst", dampingPct: Int = 85,
      checkpointInterval: Int = 4): Unit = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct out of range: $dampingPct")
    val e = cleanEdges(edges, src, dst)
    val nodes = nodesOf(e)
      .localCheckpoint(false) // the count below materializes it
    val n = nodes.count()
    require(n > 0, "pageRankIndexWrite: empty graph after " +
      "null/self-loop filtering")
    val nodesSeed = nodes.select(col("node"), lit(1L).as("seed"))
    val eo = edgesWithOutdeg(e)
    eo.write.mode("overwrite").parquet(s"$path/edges")
    nodesSeed.write.mode("overwrite").parquet(s"$path/nodes")
    val init = nodesSeed.select(col("node"), col("seed"),
      (col("seed") * (1000000L / n)).as("rank_u"))
    rankRounds(init, nodesSeed, eo, n, iters, dampingPct,
      checkpointInterval)
      .write.mode("overwrite").parquet(s"$path/ranks")
  }

  /** Resume PageRank from a [[pageRankIndexWrite]] artifact: `iters`
    * MORE rounds on the persisted micro-unit state against the stored
    * adjacency index — warm(k) over an i-round artifact ≡ cold(i+k),
    * exactly (GraphSpec pins it; the board oracle replays the full
    * i+k unroll). Per-run cost: the parquet reads + k |V|-bounded
    * iteration shuffles — no edge clean, no degree shuffle, no
    * restart from round 0. `iters = 0` just renders the stored
    * state. */
  def pageRankResume(spark: org.apache.spark.sql.SparkSession,
      path: String, iters: Int, dampingPct: Int = 85,
      checkpointInterval: Int = 4): DataFrame = {
    val eo = spark.read.parquet(s"$path/edges")
      .repartition(col("src"))
      .localCheckpoint()
    val nodesSeed = spark.read.parquet(s"$path/nodes")
    val state = spark.read.parquet(s"$path/ranks")
    val k = nodesSeed.agg(coalesce(sum(col("seed")), lit(0L)))
      .head().getLong(0)
    require(k >= 1, s"pageRankResume: empty node table at $path/nodes")
    renderRanks(rankRounds(state, nodesSeed, eo, k, iters, dampingPct,
      checkpointInterval))
  }

  /** HITS (Kleinberg 1999): mutually-recursive hub/authority scores —
    * the "good directory page vs good content page" split PageRank's
    * single score can't express (crawl frontier scheduling wants
    * hubs; corpus quality weighting wants authorities).
    *
    *   auth(v) = Σ_{u→v} hub(u);   hub(u) = Σ_{u→v} auth(v)
    *
    * each half-step renormalized so the MAX score is 1 — in integer
    * micro-units: `(raw * 1e6) div max(raw)`, where the max is a
    * one-row broadcast fold (the allowlisted scalar-fold crossJoin
    * shape), so the whole loop stays engine-exact and the oracle
    * unrolls it. Same per-iteration cost as [[pageRank]]: two
    * |V|-bounded shuffles against the pinned edge table.
    *
    * Output: (node, auth, hub), max of each column = 1.0. */
  def hits(edges: DataFrame, src: String = "src", dst: String = "dst",
      iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val e = cleanEdges(edges, src, dst, checkpoint = false)
      .repartition(col("src"))
      .localCheckpoint()
    val nodes = nodesOf(e).localCheckpoint()
    // one half-step: fold `scoreCol` across edges from `fromSide` to
    // `toSide`, zero-fill, renormalize to max = 1e6.
    // ONE job and ONE exchange per half-step (r18, guide §2.4): the
    // zero-fill rides the fold as union rows (sum + zeros ≡ the old
    // groupBy + left join + coalesce), the lazy checkpoint is
    // materialized by the max probe — whose exact long max feeds the
    // integral div as a literal, same integer chain the old broadcast
    // crossJoin carried in-plan (the oracle's replay computes the same
    // max itself) — and the returned frame is a narrow projection over
    // the cached blocks, so no per-half-step eager checkpoint remains.
    def halfStep(scores: DataFrame, scoreCol: String, fromSide: String,
        toSide: String, outCol: String): DataFrame = {
      val filled = e.join(scores, e(fromSide) === scores("node"))
        .select(e(toSide).as("node"), col(scoreCol).as("r"))
        .unionByName(nodes.select(col("node"), lit(0L).as("r")))
        .groupBy("node").agg(sum(col("r")).as("r"))
        .localCheckpoint(false)
      val mx = filled.agg(max(col("r"))).head().getLong(0)
      // overflow-safe renormalization (ADVICE r9): r is a per-node sum
      // of up-to-1e6 micro-unit scores over in-edges, so r*1e6 wraps a
      // long once in-degree passes ~9.2M — a real web hub. decimal(38,0)
      // carries the product exactly (r ≤ ~1e15 at 1e9-degree hubs →
      // product ≤ 1e21 ≪ 1e38); the integral div lands back in a long.
      filled.select(col("node"),
        expr(s"(CAST(r AS DECIMAL(38,0)) * 1000000) div $mx").as(outCol))
    }
    var auth = nodes.select(col("node"), lit(1000000L).as("auth_u"))
    var hub = nodes.select(col("node"), lit(1000000L).as("hub_u"))
    for (_ <- 1 to iters) {
      // no per-half-step eager checkpoint (r18): each half-step is
      // already lineage-cut at its own `filled` checkpoint, so the
      // chain stays linear — the old 2^(2k) plan-growth hazard came
      // from the max fold embedding its input twice, which the
      // driver-literal max removed
      auth = halfStep(hub, "hub_u", "src", "dst", "auth_u")
      hub = halfStep(auth, "auth_u", "dst", "src", "hub_u")
    }
    auth.join(hub, Seq("node"))
      .select(col("node"), round(col("auth_u") / 1e6, 6).as("auth"),
        round(col("hub_u") / 1e6, 6).as("hub"))
  }

  /** Triangle census of the UNDIRECTED simple graph underlying an
    * edge list — the clustering-structure probe (spam farms and link
    * rings are triangle-dense; organic link graphs are locally
    * sparse), and the classic "will it scale" graph benchmark.
    *
    * Algorithm: degree-ordered edge orientation (each undirected edge
    * points from its (degree, id)-smaller endpoint), then one wedge
    * self-join on the source + one closing-edge probe. The
    * orientation bounds every node's OUT-degree by O(√|E|)
    * (arboricity bound), so the wedge join's fan-out is bounded even
    * on a power-law graph where a naive neighbor join on a hub would
    * be quadratic — this is why the orientation exists. All
    * comparisons are exact integer/tuple orders; the oracle replays
    * the whole census.
    *
    * Output: one row (n_wedges, n_triangles) — wedges are the
    * ordered open candidates probed, triangles the closed ones; their
    * ratio is the global clustering coefficient's numerator/
    * denominator in oriented form. */
  def triangles(edges: DataFrame, src: String = "src",
      dst: String = "dst"): DataFrame = {
    val (_, oriented) = orientedParts(edges, src, dst)
    val wedges = orientedWedges(oriented).select(col("pv"), col("qv"))
    // the closing edge, if present, is oriented pv -> qv (same order)
    val closing = oriented
      .select(col("u").as("pv"), col("v").as("qv"), lit(1L).as("__hit"))
    wedges.join(closing, Seq("pv", "qv"), "left")
      .agg(count(lit(1)).as("n_wedges"),
        count(col("__hit")).as("n_triangles"))
  }

  /** Per-node local clustering coefficient — "how clique-like is
    * each node's neighborhood": lcc(v) = 2·T(v) / (d(v)·(d(v)−1)),
    * NULL when d(v) < 2 (undefined, never a fake 0). Per-node
    * triangle counts come from the same degree-ordered census as
    * [[triangles]] (each closed triangle credits its three corners —
    * one explode + one map-side-combinable count), so the cost bound
    * is identical; the final ratio is one exact-integer division.
    * Output: (node, degree, n_triangles, lcc). */
  def localClustering(edges: DataFrame, src: String = "src",
      dst: String = "dst"): DataFrame = {
    val (deg, oriented) = orientedParts(edges, src, dst)
    val closing = oriented.select(col("u").as("pv"),
      col("v").as("qv"), lit(1L).as("__hit"))
    val tri = orientedWedges(oriented)
      .join(closing, Seq("pv", "qv"))
      .select(explode(array(col("u"), col("pv"), col("qv")))
        .as("node"))
      .groupBy("node").agg(count(lit(1)).as("t"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("d").as("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2L,
          round(lit(2.0) * coalesce(col("t"), lit(0L)).cast("double") /
            (col("d") * (col("d") - 1L)).cast("double"), 6))
          .as("lcc"))
  }

  /** Deterministic random walks over the directed edge list — the
    * corpus generator for DeepWalk/node2vec-style graph embeddings
    * (each walk is a "sentence" of node tokens the skip-gram trainer
    * consumes). `walksPerNode` walks of up to `length` nodes start at
    * every node; at each step the next hop is chosen by a SEEDED md5
    * draw (`gw|start|rep|step|cur` — the reserved `gw|` namespace)
    * over the node's out-neighbors ordered by dst, so both engines —
    * and every rerun — produce the IDENTICAL corpus: there is no RNG
    * state, the walk is a pure function of the graph and the seed
    * strings. A walk reaching a sink (no out-edges) simply ends.
    *
    * 100 TB shape: the neighbor table gets its per-source index
    * (row_number within src — degree-bounded partitions) and
    * out-degree attached ONCE and is localCheckpointed; each step is
    * then one hash equi-join of the |V|·walksPerNode frontier against
    * it on `cur = src` (the index pick is a residual predicate, each
    * frontier row matches exactly one edge row). Paths travel as
    * strings, bounded by `length`, never exploded.
    *
    * Output: (start, rep, len, path) with path the space-joined node
    * sequence, 1 ≤ len ≤ length. */
  def randomWalks(edges: DataFrame, src: String = "src",
      dst: String = "dst", length: Int = 4,
      walksPerNode: Int = 1): DataFrame = {
    require(length >= 1, s"randomWalks needs length >= 1, got $length")
    require(walksPerNode >= 1,
      s"randomWalks needs walksPerNode >= 1, got $walksPerNode")
    val e = cleanEdges(edges, src, dst)
    val nbr = e
      .withColumn("idx",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy("dst")) - 1)
      .join(e.groupBy("src").agg(count(lit(1)).as("odeg")), Seq("src"))
      .localCheckpoint()
    val nodes = nodesOf(e)
    var walks = nodes
      .select(col("node").as("start"),
        explode(expr(s"sequence(CAST(1 AS BIGINT), CAST($walksPerNode AS BIGINT))"))
          .as("rep"),
        col("node").as("cur"),
        col("node").cast("string").as("path"))
    for (t <- 1 until length) {
      // fresh column names per step — the same nbr table joins the
      // frontier once per hop, so reuse of raw attribute ids would
      // trip the self-join ambiguity check
      val nb = nbr.select(col("src").as("__s"), col("dst").as("__d"),
        col("idx").as("__i"), col("odeg").as("__o"))
      val draw = floor(Sketch.md5Fraction(concat(lit("gw|"),
        col("start").cast("string"), lit("|"),
        col("rep").cast("string"), lit("|"), lit(t.toString), lit("|"),
        col("cur").cast("string"))) * col("__o")).cast("long")
      walks = walks
        .join(nb, col("cur") === col("__s") && col("__i") === draw,
          "left")
        .select(col("start"), col("rep"), col("__d").as("cur"),
          when(col("__d").isNotNull,
            concat(col("path"), lit(" "), col("__d").cast("string")))
            .otherwise(col("path")).as("path"))
    }
    walks.select(col("start"), col("rep"),
      size(split(col("path"), " ")).cast("long").as("len"), col("path"))
  }

  /** Maximal k-core of the undirected simple graph — the standard
    * "dense nucleus" extractor (spam/link-farm rings and genuinely
    * authoritative cores both live in high-k cores; crawl curation
    * reads core membership as a structural quality prior). Parallel
    * peeling: each round removes EVERY node whose current degree is
    * below k, until none remains — the fixpoint is the unique maximal
    * subgraph where all degrees are ≥ k, independent of removal
    * order, so the unrolled-round oracle replays it exactly.
    *
    * 100 TB shape: the edge list is deduped + localCheckpointed once,
    * then each round is one map-side-combinable degree count
    * (|V|-bounded shuffle) and two anti-joins that SHRINK the edge
    * table; the convergence probe is a 1-row driver action per round
    * (the [[Dedup.connectedComponents]] convention). Round count is
    * the peel depth of the graph — power-law web graphs converge in a
    * handful of rounds; a k=2 peel of a pure path degenerates to
    * O(|V|) rounds, which `maxRounds` turns into a loud failure
    * instead of an unbounded driver loop.
    *
    * Output: (node, degree) for the surviving nodes, degree measured
    * INSIDE the core (all ≥ k); empty when no k-core exists. */
  def kCore(edges: DataFrame, k: Int, src: String = "src",
      dst: String = "dst", maxRounds: Int = 1000): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    // one read of cur per degree fold (explode, not a two-branch
    // self-union — the r17 block-lock pattern)
    def degreesOf(und: DataFrame): DataFrame =
      und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("d"))
    var cur = undirected(edges, src, dst).localCheckpoint()
    var rounds = 0
    var converged = false
    while (!converged) {
      // lazy + count probe (r18): the emptiness probe materializes the
      // low set, so the two anti-joins below read cached rows instead
      // of recomputing the degree fold once per join side
      val low = degreesOf(cur).where(col("d") < k).select("node")
        .localCheckpoint(false)
      if (low.count() == 0L) converged = true
      else {
        require(rounds < maxRounds,
          s"kCore(k=$k) not converged after $maxRounds rounds — raise maxRounds")
        cur = cur
          .join(low.withColumnRenamed("node", "a"), Seq("a"), "left_anti")
          .join(low.withColumnRenamed("node", "b"), Seq("b"), "left_anti")
          .select("a", "b")
          .localCheckpoint()
        rounds += 1
      }
    }
    degreesOf(cur).select(col("node"), col("d").cast("long").as("degree"))
  }

  /** Undirected degree table + degree-ordered oriented edge list
    * (u, v, vd) — the shared prep of [[triangles]] and
    * [[localClustering]]. */
  private def orientedParts(edges: DataFrame, src: String,
      dst: String): (DataFrame, DataFrame) = {
    val und = undirected(edges, src, dst).localCheckpoint()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"),
      when(aFirst, col("db")).otherwise(col("da")).as("vd"))
      .localCheckpoint()
    (deg, oriented)
  }

  /** Ordered open wedges (u, pv, qv) of the oriented list — the
    * candidate set every triangle probe closes against. */
  private def orientedWedges(oriented: DataFrame): DataFrame = {
    val p = oriented.select(col("u"), col("v").as("pv"),
      col("vd").as("pvd"))
    val q = oriented.select(col("u"), col("v").as("qv"),
      col("vd").as("qvd"))
    p.join(q, Seq("u"))
      .where(struct(col("pvd"), col("pv")) <
        struct(col("qvd"), col("qv")))
      .select(col("u"), col("pv"), col("qv"))
  }

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007) over the undirected simple graph: every node starts
    * as its own community, then each round SIMULTANEOUSLY adopts the
    * most frequent label among its neighbors, ties broken by the
    * smallest label — a deterministic total order, so iteration k's
    * assignment is a pure function of the graph and the oracle
    * replays every round (the async/random-order variant converges
    * faster but is irreproducible; curation pipelines want the
    * replayable one). Fixed `iters` rather than convergence: the
    * synchronous update can 2-cycle on bipartite structures, so a
    * fixpoint probe would not terminate — fixed rounds are the
    * documented semantics, as with [[hits]].
    *
    * 100 TB shape: the both-directions adjacency is built and
    * hash-partitioned by `nbr` ONCE and localCheckpointed; each round
    * costs one |V|-row label-table join against it, one map-side-
    * combinable (node, label) count, and one max_by-style argmax —
    * `max(struct(count, -label))` — which combines map-side too, so
    * no round shuffles more than |V| × neighbor-label-variety rows
    * and nothing is ever windowed or sorted.
    *
    * Output: (node, community) — community is the adopted label. */
  def labelPropagation(edges: DataFrame, src: String = "src",
      dst: String = "dst", iters: Int = 3,
      checkpointInterval: Int = 4): DataFrame = {
    require(iters >= 1 && checkpointInterval >= 1,
      s"bad labelPropagation params: iters=$iters interval=$checkpointInterval")
    val und = undirected(edges, src, dst)
    val adj = und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))
      .repartition(col("nbr"))
      .localCheckpoint()
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (round <- 1 to iters) {
      val lb = labels.select(col("node").as("__n"), col("lbl").as("__l"))
      labels = adj.join(lb, adj("nbr") === col("__n"))
        .groupBy(adj("node"), col("__l"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(max(struct(col("__c"), (-col("__l")).as("__neg"))).as("__m"))
        .select(col("node"), (-col("__m.__neg")).as("lbl"))
      if (round % checkpointInterval == 0 && round < iters)
        labels = labels.localCheckpoint()
    }
    labels.select(col("node"), col("lbl").as("community"))
  }

  /** Per-node degree profile of a directed edge list — the cheap
    * graph-shape probe run before anything iterative (skew detection:
    * a follower-graph hub with 10^8 in-edges needs salting before any
    * per-node fold). One dedup + two map-side-combined aggregations,
    * full-outer-merged on the node id. */
  def degreeStats(edges: DataFrame, src: String = "src",
      dst: String = "dst"): DataFrame = {
    val e = edges
      .select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val out = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
  }

  /** Multi-source BFS: hop distance from any node in `seeds`,
    * following edges src→dst. Output (node, hop) — every seed id at
    * hop 0 (a node is at distance 0 from itself whether or not it has
    * edges), discovered nodes at their FIRST hop; nodes unreached
    * within `maxHops` are absent.
    *
    * Frontier-delta rounds: hop h joins ONLY the hop-(h−1) frontier
    * against the edge list and anti-joins the visited set, so each
    * node enters the frontier at most once and the total shuffled
    * volume across all rounds is O(|E| + |V|) — the textbook
    * level-synchronous BFS, not |V|·rounds. Per round: one
    * frontier⋈edges equi-join (frontier-sized build side early on —
    * AQE broadcasts it), one distinct, one anti-join against visited.
    * Early-exits on an empty frontier, so `maxHops` is a cap, not a
    * cost. The 100 TB story: the frontier peaks at the largest BFS
    * level, never the corpus; visited is (node, hop) — 16 bytes/node.
    *
    * Curation use: "crawl distance from the trusted seed list"
    * (the TrustRank neighborhood, hop-bounded) as a quality prior. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, src: String = "src",
      dst: String = "dst", maxHops: Int = 4,
      checkpointInterval: Int = 4): DataFrame = {
    require(maxHops >= 0, s"bfsHops: maxHops must be >= 0, got $maxHops")
    val e = cleanEdges(edges, src, dst, checkpoint = false)
      .localCheckpoint(false)
    val seedCol = seeds.columns.head
    var visited = seeds
      .select(col(seedCol).cast("long").as("node"))
      .where(col("node").isNotNull)
      .distinct()
      .select(col("node"), lit(0).as("hop"))
      .localCheckpoint()
    var frontier = visited.select("node")
    var h = 0
    var done = maxHops == 0
    while (!done) {
      h += 1
      val next = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(h).as("hop"))
      // lazy + count (r18, one job per round instead of two): the
      // emptiness probe is a full count, which materializes every
      // block of the lazy checkpoint before the union / next frontier
      // read it — the old eager checkpoint ran a separate job first
      val nextC = next.localCheckpoint(false)
      if (nextC.count() == 0L || h >= maxHops) done = true
      visited = visited.unionByName(nextC)
      if (h % checkpointInterval == 0 && !done)
        visited = visited.localCheckpoint()
      frontier = nextC.select("node")
    }
    visited
  }

  /** Single/multi-source shortest paths with non-negative integer
    * edge weights (Bellman-Ford with a delta frontier): dist(v) =
    * min total weight of a ≤`rounds`-edge path from any seed. Output
    * (node, dist) — seeds at 0; nodes unreached within `rounds` edges
    * absent. With `rounds` ≥ the graph's hop diameter this is exact
    * SSSP (documented per call site; rounds is a hard cap like
    * PageRank's iters, so the job count is plan-constant).
    *
    * Each round relaxes ONLY edges out of nodes whose distance
    * improved last round (the delta frontier), then min-folds into
    * the running table: shuffle volume per round tracks the frontier's
    * out-edges, and a node re-enters the frontier only when a strictly
    * shorter path arrives — on weighted graphs that is the classic
    * Bellman-Ford bound (≤ |V| improvements per node overall, few in
    * practice), on unit weights it degenerates to [[bfsHops]]'s
    * visit-once. The min-fold is a map-side-combinable groupBy, never
    * a window. Weights are validated non-negative up front (one
    * aggregate over the edge scan) — a negative weight would make the
    * early frontier-exit unsound. */
  def ssspWeighted(edges: DataFrame, seeds: DataFrame,
      src: String = "src", dst: String = "dst", weight: String = "w",
      rounds: Int = 6, checkpointInterval: Int = 4): DataFrame = {
    require(rounds >= 0, s"ssspWeighted: rounds must be >= 0, got $rounds")
    val e = edges
      .select(col(src).cast("long").as("src"),
        col(dst).cast("long").as("dst"),
        col(weight).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(min(col("w")).as("w"))
      .localCheckpoint(false)
    val minW = e.agg(coalesce(min(col("w")), lit(0L))).head().getLong(0)
    require(minW >= 0L,
      s"ssspWeighted: negative edge weight $minW — Bellman-Ford with " +
        "a frontier exit needs non-negative weights")
    val seedCol = seeds.columns.head
    var dist = seeds
      .select(col(seedCol).cast("long").as("node"))
      .where(col("node").isNotNull)
      .distinct()
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var frontier = dist
    var r = 0
    var done = rounds == 0
    while (!done) {
      r += 1
      val relaxed = frontier.join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"),
          (frontier("dist") + col("w")).as("dist"))
        .groupBy("node").agg(min(col("dist")).as("dist"))
      val next = dist.withColumnRenamed("dist", "old")
        .join(relaxed, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("old"), col("dist")),
            coalesce(col("dist"), col("old"))).as("dist"),
          (col("old").isNull ||
            (col("dist").isNotNull && col("dist") < col("old")))
            .as("improved"))
      // lazy + one full-scan probe (r18): counting the improved rows
      // materializes every block of the lazy checkpoint — one job per
      // round where the eager checkpoint + isEmpty probe were two
      val nextC = next.localCheckpoint(false)
      val improved = nextC.where(col("improved"))
        .agg(count(lit(1))).head().getLong(0)
      val newFrontier = nextC.where(col("improved"))
        .select("node", "dist")
      if (improved == 0L || r >= rounds) done = true
      dist = nextC.select("node", "dist")
      if (r % checkpointInterval == 0 && !done)
        dist = dist.localCheckpoint()
      frontier = newFrontier
    }
    dist
  }
}
