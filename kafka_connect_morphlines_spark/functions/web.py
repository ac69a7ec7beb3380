"""Web-corpus operators: URL canonicalization and canonical-URL dedup.

Crawl corpora carry the same page under many URL spellings (scheme/host
case, default ports, tracking parameters, fragments, trailing slashes);
canonicalizing before dedup is the standard Common-Crawl-style prep step.

Scale posture: canonicalization is a pure codegen string/``regexp_replace``
chain — map-only, zero shuffle; the scan is the only cost at 100 TB.  Dedup
then groups on the canonical string (or its digest), so the shuffle carries
one short key per row, never page content.

Regex patterns are RE2-compatible (no lookarounds) so the same pattern text
runs on Spark (java.util.regex) and RE2-based engines; only the
group-reference spelling differs per engine ($1 vs \\1), which each caller
owns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from kafka_connect_morphlines_spark.functions.textstats import tokens

# Query parameters that never identify content — ad/campaign trackers.
TRACKING_PARAMS = r"(utm_[^=&]*|gclid|fbclid|msclkid)"


def canonicalize_url(url: Column) -> Column:
    """Normalize a URL string for identity comparison.

    Rules, in order (each a codegen string op):
    1. trim; drop the ``#fragment``;
    2. lowercase the ``scheme://authority`` prefix (path/query keep case);
    3. drop ``www.`` and the scheme's default port (:80 http, :443 https);
    4. remove tracking query parameters (TRACKING_PARAMS), then repair the
       separators they leave (``&&`` runs, ``?&``, trailing ``?``/``&``);
    5. drop a trailing slash, including one directly before the query
       (``http://a.com/x/`` == ``http://a.com/x``; ``/x/?q`` == ``/x?q``).

    URLs with no recognizable scheme prefix pass through rules 1/4/5 only
    (the empty extracted prefix makes rules 2-3 no-ops).  Null in, null out.
    """
    u = F.trim(url)
    u = F.regexp_replace(u, r"#.*$", "")
    prefix = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", 0)
    u = F.concat(F.lower(prefix), F.substring(u, F.length(prefix) + 1, F.length(u)))
    u = F.regexp_replace(u, r"^(https?://)www\.", "$1")
    u = F.regexp_replace(u, r"^(http://[^/?#]*):80([/?#])", "$1$2")
    u = F.regexp_replace(u, r"^(http://[^/?#]*):80$", "$1")
    u = F.regexp_replace(u, r"^(https://[^/?#]*):443([/?#])", "$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]*):443$", "$1")
    u = F.regexp_replace(u, r"([?&])" + TRACKING_PARAMS + r"=[^&#]*", "$1")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?]&", "?")
    u = F.regexp_replace(u, r"[?&]+$", "")
    u = F.regexp_replace(u, r"([^/])/$", "$1")
    u = F.regexp_replace(u, r"([^/])/[?]", "$1?")
    return u


def url_dedup_keys(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """One row per canonical URL: (canonical_url, keep_id=min id, n_copies).

    groupBy on the canonical string with map-side partial aggregation — the
    same digest-shuffle shape as exact content dedup (dedup.exact_dedup_keys).
    """
    return (
        df.select(canonicalize_url(F.col(url_col)).alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def url_dedup(df: DataFrame, url_col: str = "url", id_col: str = "doc_id") -> DataFrame:
    """Drop rows whose canonical URL was already seen (keep the smallest id)."""
    keys = url_dedup_keys(df, url_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keys, id_col, "left_semi")


def _edge_state(
    edges: DataFrame, deg: DataFrame, src: str, dst: str, par: int
) -> DataFrame:
    """Checkpointed (src, dst, outdeg) frame every PageRank iteration maps
    over.  Explicit repartition BEFORE the checkpoint: AQE coalesces the
    small join output to ONE partition, and every iteration's contribution
    pass (map-side join + partial aggregation over the whole edge frame)
    then runs on one core — profiled at ~3.2s/iteration single-task vs
    spread over the cluster, and a controlled A/B read 8.0s -> 5.7s for
    the 3-iteration sf0.1 query.  A user repartition is exempt from AQE
    coalescing, so the checkpointed blocks keep full width; keying on
    (_s, _d) spreads deterministically with no hot-source skew and avoids
    round-robin's sort-before-repartition pass."""
    return (
        edges.join(deg, src)
        .select(F.col(src).alias("_s"), F.col(dst).alias("_d"), "outdeg")
        .repartition(par, F.col("_s"), F.col("_d"))
        .localCheckpoint()
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list — link-graph quality weighting.

    The standard web-corpus quality signal (a la Common Crawl harmonic /
    pagerank centrality feeds): rank_i+1(v) = (1-d)/N + d * sum over
    in-neighbors u of rank_i(u)/outdeg(u).  Callers with undirected graphs
    pass both edge directions; dangling mass (nodes with no out-edges) is
    dropped, the usual simplification — symmetric graphs have none.

    Determinism contract (the reason this iterative algorithm is
    hash-certifiable against a SQL oracle with unrolled iterations):
    per-node contribution sums accumulate in DECIMAL(38,18) (exact,
    associative — partitioning cannot reorder a result) and each rank is
    rounded to 12 dp each round, so every iteration's frame is bit-identical
    across engines and reruns.

    100 TB shape: one groupBy(outdeg) + per-iteration [join ranks on src ->
    groupBy dst] — both shuffles key on node id; under the sub-2M-node
    broadcast path the rank/sum joins are map-side, while big graphs keep
    shuffle joins; lineage is cut every round in both modes (the
    connected_components lesson — measured 2.2x faster than an every-
    second-round cut at sf0.1).
    Rounds are O(iters), each a single shuffle of (node, contribution)
    longs+doubles, never adjacency payload.
    """
    # edges feed every iteration's join plus nodes and deg — materialize
    # the (possibly expensive) upstream edge derivation exactly once
    edges = edges.select(F.col(src), F.col(dst)).localCheckpoint()
    nodes = (
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        # empty edge set (e.g. every candidate filtered upstream): the
        # rank frame is empty too, not a divide-by-zero.
        return nodes.select("id", F.lit(0.0).alias("rank"))
    base = (1.0 - damping) / n
    # pre-join outdeg into the edge frame ONCE so each iteration is a
    # single (edges x ranks) join + groupBy instead of two joins
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("outdeg"))
    par = int(edges.sparkSession.sparkContext.defaultParallelism)
    e = _edge_state(edges, deg, src, dst, par)
    ranks = nodes.select("id", F.lit(round(1.0 / n, 12)).alias("rank"))
    # rank/sum frames carry (id, double) only — under ~2M nodes (~50 MB)
    # broadcast them, turning each iteration's two node-keyed shuffles into
    # map-side joins (the edge frame never reshuffles); above that, fall
    # back to the shuffle joins, which partition by node id
    bcast = n <= 2_000_000
    for _ in range(iters):
        r = ranks.withColumnRenamed("id", "_s")
        contrib = e.join(F.broadcast(r) if bcast else r, "_s").select(
            F.col("_d").alias("id"),
            (F.col("rank") / F.col("outdeg")).alias("_c"),
        )
        # fold the "every node gets a rank" left-join INTO the contribution
        # groupBy by unioning an exact-zero contribution per node (r10):
        # decimal sums absorb the zero exactly, a no-in-edge node sums to
        # 0 = the old coalesce(NULL, 0.0), and one broadcast build + one
        # join per round disappear (A/B'd vs the nodes-left-join form)
        sums = (
            contrib.unionByName(nodes.select("id", F.lit(0.0).alias("_c")))
            .groupBy("id")
            # r11: decimal(20,18), not (38,18) — same 18-dp half-up
            # rounding of the double contribution (values <= 1 by rank
            # mass, so 2 integer digits never overflow; per-node sums
            # <= 1 fit the widened (30,18) sum buffer).  Microbenched
            # 0.76 -> 0.60s per iteration stage on the 1.17M-edge sf0.1
            # trade graph; the mechanism behind that is unverified.  It is
            # not a long-backed Decimal: Spark keeps one in a long only up
            # to precision 18 (Decimal.MAX_LONG_DIGITS), so (20,18) still
            # holds a BigDecimal, as (38,18) did.
            # Bit-identical ranks (cast rounding and sum values are
            # unchanged); the unrolled SQL oracle needs no edit.
            .agg(F.sum(F.col("_c").cast("decimal(20,18)")).alias("_sum"))
        )
        ranks = sums.select(
            "id",
            F.round(
                F.lit(base) + F.lit(damping) * F.col("_sum").cast("double"),
                12,
            ).alias("rank"),
        )
        # lineage cut EVERY round.  Round 4 tried cutting every second
        # round under broadcast on the theory that broadcast-exchange
        # reuse executes each subplan once; measured at sf0.1 (3 runs,
        # best-of) that was 2.2x SLOWER (8.75s vs 3.95s) — the uncut
        # 2-round plan re-executes the previous iteration's join inside
        # the next broadcast build.  Per-round checkpoint + broadcast is
        # the measured winner (shuffle joins + per-round cut: 5.06s).
        # r11: the cut is LAZY — the next round's broadcast build (or
        # the caller's first action on the final frame) materializes the
        # blocks in the same job, so each round schedules one job
        # instead of two; the lineage truncation the cut exists for is
        # unchanged (the logical plan is replaced by the checkpoint RDD
        # immediately, computed or not).
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def host_of(url: Column) -> Column:
    """Lowercased registered host of a URL (port stripped), codegen
    parse_url — the blocking/blocklist key for crawl filtering."""
    return F.lower(F.regexp_replace(F.parse_url(url, F.lit("HOST")), r":\d+$", ""))


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    domain_col: str = "domain",
) -> DataFrame:
    """FineWeb/RefinedWeb-style URL blocklist filtering with subdomain
    semantics: a row is blocked when its host equals a blocked domain OR
    is a subdomain of one (``ads.example.com`` matches ``example.com``).

    Appends (host, blocked) instead of filtering — the audit posture; the
    caller keeps ``~blocked``.

    Shape at 100 TB: blocklists are list-shaped (UT1/Blacklists ~4M rows,
    a few MB of domains) — the match explodes each host into its domain
    suffixes (bounded by label count, ~4-6) and semi-joins the broadcast
    blocklist on equality; no regex-per-(row x pattern) scan anywhere.
    """
    host = host_of(F.col(url_col))
    with_host = df.withColumn("host", host)
    # suffixes: ['a.b.c', 'b.c', 'c'] — equality-joinable domain candidates
    labels = F.split(F.col("host"), r"\.")
    suffixes = F.transform(
        labels, lambda _, i: F.array_join(F.slice(labels, i + 1, F.size(labels)), ".")
    )
    exploded = with_host.select(F.col(id_col), F.explode(suffixes).alias("_sfx"))
    bl = F.broadcast(blocklist.select(F.lower(F.col(domain_col)).alias("_sfx")).distinct())
    blocked_ids = exploded.join(bl, "_sfx").select(id_col).distinct()
    return with_host.join(
        blocked_ids.withColumn("blocked", F.lit(True)), id_col, "left"
    ).withColumn("blocked", F.coalesce(F.col("blocked"), F.lit(False)))


def textrank_keywords(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 4,
    iters: int = 3,
    k: int = 20,
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the word co-occurrence graph — adjacent content words (length >=
    ``min_len`` after lowercasing) are linked symmetrically, and the
    stationary importance ranks keywords.

    Corpus-scale shape: tokenization is a map-only posexplode; adjacency
    comes from ONE doc-keyed window ``lead`` (no token self-join — the
    lead's position must be pos+1, so filtered-out gaps don't create fake
    edges); the resulting distinct edge set is vocabulary-sized, and
    web.pagerank's deterministic-arithmetic contract (decimal contribution
    sums, 12 dp per-round rank rounding) makes even this iterative
    operator hash-certifiable.  Returns the global top-k (token, rank).
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(doc_id_col).alias("_doc"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "token"),
    ).select("_doc", "pos", F.lower(F.col("token")).alias("token"))
    kept = toks.filter(F.length("token") >= min_len)
    w = Window.partitionBy("_doc").orderBy("pos")
    adj = (
        kept.withColumn("next_pos", F.lead("pos").over(w))
        .withColumn("next_token", F.lead("token").over(w))
        .filter(
            (F.col("next_pos") == F.col("pos") + 1)
            & (F.col("next_token") != F.col("token"))
        )
        .select(F.col("token").alias("a"), F.col("next_token").alias("b"))
    )
    edges = (
        adj.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(adj.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    pr = pagerank(edges, iters=iters)
    return (
        pr.orderBy(F.col("rank").desc(), F.col("id").asc())
        .limit(k)
        .select(F.col("id").alias("token"), "rank")
    )


def ip_to_long(ip: Column) -> Column:
    """Dotted-quad IPv4 -> BIGINT (codegen split + shifts); null for
    malformed input."""
    parts = F.split(ip, r"\.")
    ok = (F.size(parts) == 4) & F.forall(
        parts, lambda p: p.rlike("^[0-9]{1,3}$") & (p.cast("int") <= 255)
    )
    val = (
        F.element_at(parts, 1).cast("long") * F.lit(16777216)
        + F.element_at(parts, 2).cast("long") * F.lit(65536)
        + F.element_at(parts, 3).cast("long") * F.lit(256)
        + F.element_at(parts, 4).cast("long")
    )
    return F.when(ok, val).otherwise(F.lit(None).cast("long"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected graph given as one row per unordered edge (src < dst,
    distinct) — the link-graph structure signal next to ``pagerank``
    (spam farms are triangle-dense; bipartite scrape graphs are
    triangle-free).

    Degree-ordered orientation (the O(m^1.5) MPC-standard): every edge is
    oriented from the endpoint with the smaller (degree, id) rank, so
    each vertex's out-degree is bounded by ~sqrt(2m) and each triangle is
    enumerated exactly once at its lowest-rank vertex: wedge (u->v, u->w)
    with rank(v) < rank(w) closes iff oriented edge (v, w) exists.  This
    is what keeps the self-join from exploding on high-degree hubs at
    100 TB: a hub's edges point INTO it, so it never fans out wedges.
    Rank is packed as deg * 2^31 + id (ids below 2^31) so the comparison
    is a single BIGINT compare in Spark and the SQL oracle alike.

    Output: one row (n_nodes, n_edges, n_triangles, gcc) with
    gcc = 3*T / wedges, wedges = sum_v C(deg_v, 2), via the exact-integer
    ratio idiom.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the reduced edge list once: it feeds the degree pass,
    # the orientation join and the edge/node counters — without this the
    # (possibly expensive) upstream edge derivation runs three times
    und = und.localCheckpoint()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    rank = deg.select(
        "v", (F.col("deg").cast("long") * F.lit(1 << 31) + F.col("v")).alias("rk")
    )
    e = (
        und.join(rank.withColumnRenamed("v", "a").withColumnRenamed("rk", "rka"), "a")
        .join(rank.withColumnRenamed("v", "b").withColumnRenamed("rk", "rkb"), "b")
        .select(
            F.when(F.col("rka") < F.col("rkb"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("rka") < F.col("rkb"), F.col("b")).otherwise(F.col("a")).alias("w"),
            F.when(F.col("rka") < F.col("rkb"), F.col("rkb")).otherwise(F.col("rka")).alias("rkw"),
        )
    )
    e = e.localCheckpoint()  # reused by the wedge join AND the closing probe
    x, y = e.alias("x"), e.alias("y")
    wedges = x.join(
        y,
        (F.col("x.u") == F.col("y.u")) & (F.col("x.rkw") < F.col("y.rkw")),
    ).select(F.col("x.w").alias("u"), F.col("y.w").alias("w"))
    tri = wedges.join(e.select("u", "w"), ["u", "w"], "inner").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2).cast("long").alias("_wedges"),
        )
    )
    return counts.crossJoin(tri).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        F.round(
            F.try_divide(
                (3 * F.col("n_triangles")).cast("double"), F.col("_wedges").cast("double")
            ),
            6,
        ).alias("gcc"),
    )
