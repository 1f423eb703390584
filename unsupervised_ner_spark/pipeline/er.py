"""Cross-document entity resolution + canonicalization (SURVEY.md §7.1
stage 5; north rule "entity linking, canonicalization").

Stages:
1. ``entity_occurrences``  — typed mentions -> normalized surfaces (narrow).
2. ``exact_canonical``     — deterministic canonical key per
   (norm_surface, type): md5 — one hash-aggregate, the 80% case.
3. ``fuzzy_edges``         — MinHash-LSH over character 3-gram shingles of
   the normalized surface, band self-join (bucket-capped against hot-key
   blowup, e.g. "covid" appearing in millions of pages), exact Jaccard
   verify >= threshold.
4. ``connected_components_star`` — alternating large-star/small-star
   connected components, O(log n) rounds whatever the graph diameter; each
   round localCheckpoints to cut lineage. ``connected_components`` (plain
   min-label propagation, O(diameter) rounds) is the tests' reference; both
   return component minima.
5. ``canonical_entities``/``canonicalize_triples`` — final graph tables.

Skew note: the band join salts implicitly through banding (a hot surface
shares all bands only with true near-duplicates); residual skew is handled
by the bucket cap + AQE skew-join (session default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from unsupervised_ner_spark.caching import scoped_persist


def norm_surface_col(col):
    """Shared surface normalization: lowercase, strip non-alnum, collapse."""
    n = F.regexp_replace(F.lower(col), r"[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(n, r"\s+", " "))


def entity_occurrences(typed_mentions: DataFrame) -> DataFrame:
    """typed mentions (url, sent_idx, mention_idx, surface, pred_group) ->
    occurrences with normalized surface + deterministic occurrence id."""
    norm = norm_surface_col(F.col("surface"))
    return typed_mentions.select(
        F.md5(
            F.concat_ws("#", "url", F.col("sent_idx").cast("string"),
                        F.col("mention_idx").cast("string"))
        ).alias("occurrence_id"),
        "url",
        "surface",
        norm.alias("norm_surface"),
        F.col("pred_group").alias("etype"),
    ).filter((F.col("etype") != "OTHER") & (F.length("norm_surface") > 0))


def node_id_col(norm_surface, etype):
    """Exact canonical node id: md5(norm_surface | etype), a pure function
    of content."""
    return F.md5(F.concat_ws("|", norm_surface, etype))


def exact_canonical(occurrences: DataFrame) -> DataFrame:
    """(norm_surface, etype) -> canonical node key + stats (hash agg)."""
    return (
        occurrences.groupBy("norm_surface", "etype")
        .agg(
            F.count("*").alias("n_mentions"),
            F.min("surface").alias("canonical_surface"),
        )
        .withColumn("node_id", node_id_col("norm_surface", "etype"))
    )


def _char_shingles(col, k: int = 3):
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    n = F.length(padded)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(k)),
        )
    )


def fuzzy_edges(
    nodes: DataFrame,
    num_hashes: int = 6,
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH band self-join on surface shingles within the same etype ->
    verified edges (node_a, node_b).

    ``max_bucket=None`` derives the cap from the NODE count (distinct
    canonical surfaces — bounded by unique content, not corpus size) via
    ``dedup.adaptive_max_bucket`` with a 100 floor: identical behavior at
    test scale, cube-root growth past 10^6 nodes instead of a demo-scale
    constant. The count is one action on the (caller-persisted) node
    table, the IVF-codebook precedent; the DuckDB oracle replays the cap
    from ``count(*)`` over its nodes CTE.

    Execution shape (round-6): char shingles, the ``num_hashes`` salted
    md5 minima AND the band hashes are computed per node in ONE
    Arrow-batched kernel (semantically identical to the former
    explode + groupBy-min Column algebra — interpreted HOFs plus a
    shingle-sized shuffle measured several times the kernel cost, guide
    §4.2/§2.4). The per-node signature row also carries the distinct
    shingle array, which rides the band explode into both self-join
    sides so the exact Jaccard verify runs inline on the joined row (no
    re-attach joins; the pair dedup runs below the verify on the far
    smaller verified edge set)."""
    if max_bucket is None:
        from unsupervised_ner_spark.ops.dedup import adaptive_max_bucket

        max_bucket = adaptive_max_bucket(nodes.count(), lo=100)
    import hashlib

    n_bands = num_hashes // band_size
    schema = (
        "node_id string, etype string, shs array<string>, "
        + ", ".join(f"band_{b} string" for b in range(n_bands))
    )

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out: dict = {"node_id": [], "etype": [], "shs": []}
            for b in range(n_bands):
                out[f"band_{b}"] = []
            for node_id, etype, surf in zip(
                pdf["node_id"], pdf["etype"], pdf["norm_surface"]
            ):
                if surf is None:
                    continue
                p = "^" + surf + "$"
                if len(p) >= 3:
                    shs = list(dict.fromkeys(
                        p[i:i + 3] for i in range(len(p) - 2)
                    ))
                else:
                    shs = [p]
                mh = [
                    min(
                        hashlib.md5((f"{i}:" + s).encode("utf-8")).hexdigest()
                        for s in shs
                    )
                    for i in range(num_hashes)
                ]
                out["node_id"].append(node_id)
                out["etype"].append(etype)
                out["shs"].append(shs)
                for b in range(n_bands):
                    key = "|".join(mh[b * band_size:(b + 1) * band_size])
                    out[f"band_{b}"].append(
                        hashlib.md5(key.encode("utf-8")).hexdigest()
                    )
            yield pd.DataFrame(out)

    # persist the signature table: it feeds the bucket-size aggregate, both
    # self-join sides AND the verify's shingle arrays — without it the
    # kernel runs 4× (the round-1 LSH-plan recompute bug)
    sig = scoped_persist(
        nodes.select("node_id", "etype", "norm_surface").mapInPandas(run, schema)
    )
    # round-6 (guide §2.4): the shingle array rides the band explode into
    # BOTH self-join sides, so the exact Jaccard verify runs INLINE on the
    # joined row — the former shape re-attached shingles to the distinct
    # candidate pairs via two more shuffle joins against the signature
    # table. The pair dedup moves BELOW the verify (a pair colliding in
    # several bands is re-verified per collision — bounded by n_bands —
    # and the distinct now runs on the far smaller VERIFIED edge set
    # instead of the candidate set). Same verified pairs, 2 fewer joins.
    ex = sig.select(
        "node_id", "etype", "shs",
        F.posexplode(
            F.array(*[F.col(f"band_{b}") for b in range(n_bands)])
        ).alias("band_id", "band_hash"),
    )
    sizes = ex.groupBy("etype", "band_id", "band_hash").agg(F.count("*").alias("n"))
    ok = ex.join(
        sizes.filter(F.col("n") <= max_bucket).drop("n"),
        ["etype", "band_id", "band_hash"],
    )
    a, b = ok.alias("a"), ok.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shs"), F.col("b.shs")))
    union = F.size(F.array_union(F.col("a.shs"), F.col("b.shs")))
    return (
        a.join(
            b,
            (F.col("a.etype") == F.col("b.etype"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.node_id") < F.col("b.node_id")),
        )
        .filter(inter >= union * F.lit(jaccard_threshold))
        .select(F.col("a.node_id").alias("node_a"), F.col("b.node_id").alias("node_b"))
        .distinct()
    )


def _sym_persist(edges: DataFrame) -> DataFrame:
    """Symmetrized (src, dst) co-occurrence adjacency, persisted once —
    the shared prefix of every bounded-round graph loop (LPA votes,
    PageRank/Katz power steps, BFS relaxations, WL refinement, ANF
    merges...). Deliberately NOT pre-partitioned: the per-round node-table
    joins plan as broadcasts wherever the node table fits (which a hash
    partitioning cannot improve), and a measured pre-partitioning attempt
    added one edge-sized exchange without eliding any (round-6 A/B,
    plan-verified)."""
    return scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        )
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> tuple[DataFrame, int]:
    """Min-label propagation: returns (node_id -> component_id, iterations).
    The tests' reference for ``connected_components_star``.

    Driver-side loop over DataFrames; each round localCheckpoints so lineage
    stays bounded (SURVEY.md §4.3 item 3). Deterministic: labels are md5
    strings, min is total order."""
    labels = nodes.select("node_id", F.col("node_id").alias("component"))
    sym = edges.select("node_a", "node_b").union(
        edges.select(F.col("node_b").alias("node_a"), F.col("node_a").alias("node_b"))
    ).localCheckpoint()
    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        neighbor_min = (
            sym.join(labels, sym.node_b == labels.node_id)
            .groupBy("node_a")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node_id == neighbor_min.node_a, "left")
            .select(
                "node_id",
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
            )
        ).localCheckpoint()
        changed = new_labels.filter("component != prev").limit(1).count()
        labels = new_labels.select("node_id", "component")
        if changed == 0:
            break
    return labels.select("node_id", "component"), iterations


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SOCC'14 — a public
    algorithm, also the basis of GraphFrames' CC).

    Converges in O(log n) ROUNDS regardless of graph diameter, vs min-label
    propagation's O(diameter): a 10^12-doc corpus can chain near-identical
    surfaces into long paths ("covid" ~ "covid1" ~ ... ), where per-round
    full-edge shuffles × diameter rounds would dominate the job. Labels are
    component minima — identical to ``connected_components``'s output, so
    the two are drop-in interchangeable (asserted by tests and the
    er_components hash gate).

    Rounds (u, v are md5-string node ids; min is total lexicographic order):
    - large-star: per node u with neighborhood Γ(u), m = min(Γ(u) ∪ {u});
      emit (v, m) for every v ∈ Γ(u) with v > u.
    - small-star: per node u over its ≤-neighbors N = {v ∈ Γ(u): v < u},
      m = min(N ∪ {u}); emit (v, m) for v ∈ N ∪ {u}, v ≠ m.
    Terminates when the (distinct, canonicalized) edge set is stable —
    detected by an O(1) (count, hash-sum) aggregate, not a set compare;
    raises RuntimeError if ``max_iter`` rounds end without that.
    Each round localCheckpoints to keep lineage bounded.

    Execution shape (round-6 optimization, guide §2.4): each star's
    per-node min is a WINDOW over partitionBy(u) — one exchange — instead
    of the former groupBy(u) + equi-join back (two exchanges plus a join
    stage); the canonical distinct supplies the round's second exchange.
    The per-round explicit repartition is gone: AQE sizes every round's
    shuffle from runtime stats (scale-adaptive, not a constant tuned to
    either local mode or a cluster). Per round: 4 exchanges + 1
    checkpoint job + 1 O(1) fingerprint collect (was ~7 exchanges + 3
    jobs). Measured labels are bit-identical (same star emissions)."""

    def canon(e: DataFrame) -> DataFrame:
        # undirected canonical form (small, large), deduped
        return e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).filter("a != b").distinct()

    def both_dirs(e: DataFrame) -> DataFrame:
        return e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            e.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def fingerprint(e: DataFrame) -> tuple[int, int]:
        # bit_xor: order-independent, overflow-free (ANSI mode forbids a
        # long SUM of 64-bit hashes); E is distinct so xor can't cancel dups
        [row] = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).collect()
        return (row.n, row.h)

    # canon() symmetrizes via least/greatest, so canon(edges) equals the
    # former canon(union(edges, reversed(edges))) without doubling the
    # distinct's input
    E = canon(
        edges.select(F.col("node_a").alias("a"), F.col("node_b").alias("b"))
    ).localCheckpoint()
    fp = fingerprint(E)
    w_u = Window.partitionBy("u")
    iterations = 0
    for _ in range(max_iter):
        iterations += 1
        # large-star: per-u min over the symmetrized neighborhood
        g = both_dirs(E).withColumn("mv", F.min("v").over(w_u))
        m = F.least(F.col("u"), F.col("mv"))
        large = g.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("a"), m.alias("b")
        )
        # round-6 (guide §2.4): large's emissions feed small-star WITHOUT the
        # former intermediate canon() distinct — one less exchange+dedup per
        # round. Safe: every emission already satisfies a > b (v > u >= m),
        # duplicate (v, m) rows cannot change a per-u MIN, and the round's
        # final canon() dedups the emission multiset; labels are
        # bit-identical (er_components hash gate + star/minlabel equivalence
        # property re-run after the change). Emission multiset is bounded by
        # |both_dirs(E)| = 2|E|, so the small-star window shuffles at most 2x
        # the deduped edge rows — the trade for skipping a full-edge shuffle.
        E1 = large
        # small-star over the ≤-oriented edges of E1; the (u, mv) self-edge
        # rows are emitted once per g2 row and deduped by canon()'s distinct
        g2 = both_dirs(E1).filter(F.col("v") < F.col("u")).withColumn(
            "mv", F.min("v").over(w_u)
        )
        small = g2.select(F.col("v").alias("a"), F.col("mv").alias("b")).union(
            g2.select(F.col("u").alias("a"), F.col("mv").alias("b"))
        )
        E = canon(small).localCheckpoint()
        new_fp = fingerprint(E)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        # non-converged stars are not component minima: never return them
        raise RuntimeError(f"star CC did not converge in {max_iter} rounds")
    # stars: every edge is (member, root=component min); roots and isolated
    # nodes label themselves
    member = E.select(F.col("b").alias("node_id"), F.col("a").alias("component"))
    labels = nodes.select("node_id").join(member, "node_id", "left").select(
        "node_id", F.coalesce("component", F.col("node_id")).alias("component")
    )
    return labels, iterations


def salted_occurrence_link(
    occurrences: DataFrame, entities: DataFrame, salt: int = 8
) -> DataFrame:
    """Link every mention occurrence to its canonical entity id — the skewed
    join of the pipeline (north rule: "salted repartitioning for skewed hot
    entities"; SURVEY §4.2: "COVID-19 appears in millions of pages").

    The occurrence side gets a uniform salt from its own id; the (small,
    post-ER) entity side is replicated across all salt values via an
    exploded sequence, so one hot ``norm_surface`` spreads over ``salt``
    reducers instead of one. AQE skew-join remains on as backstop; this is
    the explicit-salt variant the north rule asks for when the dimension
    side is too large to broadcast.

    Returns occurrences + entity_id.
    """
    occ = occurrences.withColumn(
        "salt", F.pmod(F.xxhash64("occurrence_id"), F.lit(salt))
    )
    ent = entities.select(
        "entity_id", "norm_surface", "etype",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("salt"),
    )
    return occ.join(ent, ["norm_surface", "etype", "salt"]).drop("salt")


def resolve_entities(
    occurrences: DataFrame, max_iter: int = 20
) -> tuple[DataFrame, DataFrame]:
    """Full ER: exact grouping -> fuzzy LSH edges -> large/small-star
    connected components (O(log n) rounds, diameter-proof at 10^12 docs).

    Returns (entities, membership):
    - entities(entity_id, etype, canonical_surface, n_mentions)
    - membership(norm_surface, etype, entity_id) — the surface->entity map
      used to canonicalize occurrences and triples.
    """
    # nodes feed 4 consumers (LSH signatures, Jaccard-verify shingles, the
    # label join, the final stats agg) — persist so the upstream typed-
    # mention pipeline runs once
    nodes = scoped_persist(exact_canonical(occurrences))
    edges = fuzzy_edges(nodes)
    labels, _iters = connected_components_star(nodes.select("node_id"), edges, max_iter)
    merged = nodes.join(labels, "node_id")
    entities = (
        merged.groupBy("component", "etype")
        .agg(
            F.sum("n_mentions").cast("long").alias("n_mentions"),
            F.min_by("canonical_surface", F.struct(F.col("n_mentions") * -1, F.col("canonical_surface"))).alias("canonical_surface"),
        )
        .withColumnRenamed("component", "entity_id")
    )
    membership = merged.select(
        "norm_surface", "etype", F.col("component").alias("entity_id")
    )
    return entities, membership


def canonical_entities(occurrences: DataFrame, max_iter: int = 20) -> DataFrame:
    """entities table only (see resolve_entities)."""
    return resolve_entities(occurrences, max_iter)[0]


def canonicalize_triples(triples: DataFrame, membership: DataFrame, salt: int = 8) -> DataFrame:
    """Map triple subjects/objects to canonical entity ids — the final KG
    graph table (north rule: canonicalized (subj, pred, obj)). Both joins
    are salted (skewed hot surfaces; see salted_occurrence_link)."""
    m = membership
    subj_m = m.select(
        F.col("norm_surface").alias("subj_norm"),
        F.col("etype").alias("subj_type"),
        F.col("entity_id").alias("subj_id"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("ssalt"),
    )
    obj_m = m.select(
        F.col("norm_surface").alias("obj_norm"),
        F.col("etype").alias("obj_type"),
        F.col("entity_id").alias("obj_id"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("osalt"),
    )
    t = triples.withColumn("subj_norm", norm_surface_col(F.col("subj"))).withColumn(
        "obj_norm", norm_surface_col(F.col("obj"))
    )
    t = t.withColumn(
        "ssalt", F.pmod(F.xxhash64("url", "sent_idx", "subj"), F.lit(salt))
    ).withColumn("osalt", F.pmod(F.xxhash64("url", "sent_idx", "obj"), F.lit(salt)))
    out = (
        t.join(subj_m, ["subj_norm", "subj_type", "ssalt"])
        .join(obj_m, ["obj_norm", "obj_type", "osalt"])
    )
    return out.select(
        "subj_id", "pred", "obj_id", "url", "sent_idx",
        "subj", "subj_type", "obj", "obj_type",
    )


def _sentence_entities(typed_mentions: DataFrame) -> DataFrame:
    """Distinct normalized (url, sent_idx, ent, etype) — the per-sentence
    entity event table both co-occurrence products are built on. One
    narrow aggregate; callers persist it once (it feeds multiple
    consumers: both pair sides, and for the weighted variant the marginal
    and universe aggregates too)."""
    from unsupervised_ner_spark.caching import scoped_persist

    norm = norm_surface_col(F.col("surface"))
    return scoped_persist(
        typed_mentions.select(
            "url", "sent_idx",
            norm.alias("ent"), F.col("pred_group").alias("etype"),
        )
        .filter((F.col("etype") != "OTHER") & (F.length("ent") > 0))
        .distinct()
    )


def _entity_pairs(ents: DataFrame) -> DataFrame:
    """Within-sentence unordered entity pairs, ordered by the
    lexicographic "ent|etype" key (ASCII-only after normalization, so
    Spark and DuckDB compare identically). Equi-join on (url, sent_idx) —
    co-partitioned, sentence-local, never corpus-quadratic."""
    a = ents.select(
        "url", "sent_idx",
        F.col("ent").alias("ent_a"), F.col("etype").alias("type_a"),
        F.concat_ws("|", "ent", "etype").alias("ka"),
    )
    b = ents.select(
        "url", "sent_idx",
        F.col("ent").alias("ent_b"), F.col("etype").alias("type_b"),
        F.concat_ws("|", "ent", "etype").alias("kb"),
    )
    return a.join(b, ["url", "sent_idx"]).filter(F.col("ka") < F.col("kb"))


def cooccurrence_edges(typed_mentions: DataFrame) -> DataFrame:
    """Sentence-level entity co-occurrence edges — the predicate-less KG
    graph product: canonical (normalized) entities that appear in the same
    sentence, counted across the corpus. Returns (ent_a, type_a, ent_b,
    type_b, n_sents, n_docs).

    Scale: entities are DISTINCT per sentence first (a narrow aggregate),
    the pairing is an equi-join on (url, sent_idx) — co-partitioned, never
    corpus-quadratic (sentences hold a handful of mentions) — and the edge
    aggregate map-side combines; a hot pair is one reducer key, standard
    agg skew. The distinct-entity table feeds both join sides, so it is
    persisted once."""
    pairs = _entity_pairs(_sentence_entities(typed_mentions))
    return pairs.groupBy("ent_a", "type_a", "ent_b", "type_b").agg(
        F.count("*").cast("long").alias("n_sents"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )


def cooccurrence_weighted_edges(typed_mentions: DataFrame) -> DataFrame:
    """Co-occurrence edges + the INTEGER sufficient statistics for NPMI
    scoring (VERDICT r04 item 6): per edge, n_pair (sentences containing
    both entities), n_a / n_b (sentences containing each entity — the
    marginals), and n_total (sentences containing at least one typed
    entity — the event universe all probabilities are over). The float
    NPMI itself is derived by ``with_npmi`` and deliberately kept OUT of
    this table so the hash gate compares integers only (the dedup_jaccard
    precedent: the gated surface carries log-free sufficient statistics;
    the score is a cheap derived column).

    Scale shape: the edge table and the marginal table are both aggregates
    bounded by distinct content (pairs / entities), not corpus size; the
    marginal joins are entity-keyed shuffle joins between those bounded
    tables (no broadcast of anything corpus-sized), and the 1-row total
    joins as a broadcast cross join. The distinct-entity table feeds four
    consumers (both pair sides + marginals + total), so the persisted-once
    posture pays off 4x here."""
    ents = _sentence_entities(typed_mentions)
    edges = _entity_pairs(ents).groupBy("ent_a", "type_a", "ent_b", "type_b").agg(
        F.count("*").cast("long").alias("n_pair"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )
    marg = ents.groupBy("ent", "etype").agg(
        F.count("*").cast("long").alias("n_ent")
    )
    total = ents.select(
        F.countDistinct("url", "sent_idx").cast("long").alias("n_total")
    )
    out = (
        edges.join(
            marg.select(
                F.col("ent").alias("ent_a"), F.col("etype").alias("type_a"),
                F.col("n_ent").alias("n_a"),
            ),
            ["ent_a", "type_a"],
        )
        .join(
            marg.select(
                F.col("ent").alias("ent_b"), F.col("etype").alias("type_b"),
                F.col("n_ent").alias("n_b"),
            ),
            ["ent_b", "type_b"],
        )
        .crossJoin(F.broadcast(total))
    )
    return out.select(
        "ent_a", "type_a", "ent_b", "type_b",
        "n_pair", "n_a", "n_b", "n_total", "n_docs",
    )


def entity_degree(edges: DataFrame) -> DataFrame:
    """Per-entity co-occurrence graph degree — the first KG analytics a
    user asks of the entity graph: how connected is each canonical entity,
    and how much co-mention mass does it carry. Input is the
    ``cooccurrence_edges`` table (distinct unordered pairs); output is
    (ent, etype, degree, n_cooc_sents, n_cooc_docs), all integers.

    Scale shape: symmetrize by a union of two projections of the ALREADY
    AGGREGATED edge table (bounded by distinct pairs, not corpus size),
    then one map-side-combining aggregate keyed on the entity. A hub
    entity ("covid") is one reducer key — standard agg skew, no join
    involved."""
    a = edges.select(
        F.col("ent_a").alias("ent"), F.col("type_a").alias("etype"),
        "n_sents", "n_docs",
    )
    b = edges.select(
        F.col("ent_b").alias("ent"), F.col("type_b").alias("etype"),
        "n_sents", "n_docs",
    )
    return a.unionByName(b).groupBy("ent", "etype").agg(
        F.count("*").cast("long").alias("degree"),
        F.sum("n_sents").cast("long").alias("n_cooc_sents"),
        F.sum("n_docs").cast("long").alias("n_cooc_docs"),
    )


def with_npmi(weighted_edges: DataFrame) -> DataFrame:
    """Derive the float NPMI column from the integer sufficient statistics:
    npmi = ln(p_ab / (p_a * p_b)) / -ln(p_ab) over the sentence universe,
    1.0 at the p_ab = 1 degeneracy (perfect association by convention).
    Kept separate from the gated integer table — floats never enter hashed
    columns."""
    p_ab = F.col("n_pair") / F.col("n_total")
    p_a = F.col("n_a") / F.col("n_total")
    p_b = F.col("n_b") / F.col("n_total")
    npmi = F.when(F.col("n_pair") == F.col("n_total"), F.lit(1.0)).otherwise(
        F.log(p_ab / (p_a * p_b)) / -F.log(p_ab)
    )
    return weighted_edges.withColumn("npmi", npmi)


def triple_support(canon_triples: DataFrame) -> DataFrame:
    """Cross-document triple support aggregation — the KG confidence
    primitive (redundancy across independent pages, the signal open-IE
    systems rank extractions by): one map-side-combining aggregate keyed
    on the canonical graph edge (subj_id, pred, obj_id).

    Returns (subj_id, pred, obj_id, subj_type, obj_type, n_support,
    n_docs, subj_repr, obj_repr) — ``n_support`` counts extraction events,
    ``n_docs`` distinct source pages, and the ``*_repr`` columns are the
    deterministic min raw surface (a human-readable label independent of
    which page is read first).

    Scale shape: input is the canonicalized triple stream (corpus-sized);
    output is bounded by distinct graph edges. A hot triple ("covid" —
    "causes" — "pneumonia" on millions of pages) is ONE reducer key after
    partial aggregation — standard agg skew, no join involved. subj_type/
    obj_type are functionally dependent on the entity ids (node ids hash
    the etype), so min() is exact, not a choice."""
    return canon_triples.groupBy("subj_id", "pred", "obj_id").agg(
        F.min("subj_type").alias("subj_type"),
        F.min("obj_type").alias("obj_type"),
        F.count("*").cast("long").alias("n_support"),
        F.countDistinct("url").cast("long").alias("n_docs"),
        F.min("subj").alias("subj_repr"),
        F.min("obj").alias("obj_repr"),
    )


def entity_aliases(occurrences: DataFrame, membership: DataFrame) -> DataFrame:
    """Alias (surface-form) table per canonical entity — the KG deliverable
    that makes ER inspectable: every distinct raw surface that resolved
    into an entity, with its mention count and a deterministic rank
    (count desc, surface asc; rank 1 = dominant form).

    Scale shape: aggregate FIRST — the corpus-sized occurrence stream
    collapses to distinct (norm_surface, etype, surface) forms with
    map-side combine absorbing hot-surface skew — then equi-join the two
    bounded-by-content tables (forms x membership). The rank window
    partitions by entity_id: a mega-entity with millions of alias FORMS
    would skew that sort, but forms-per-entity is bounded by distinct
    spellings, not occurrences."""
    from pyspark.sql import Window

    forms = occurrences.groupBy("norm_surface", "etype", "surface").agg(
        F.count("*").cast("long").alias("n_mentions")
    )
    j = forms.join(membership, ["norm_surface", "etype"])
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("n_mentions"), F.asc("surface")
    )
    return j.select(
        "entity_id", "etype", F.col("surface").alias("alias"), "n_mentions",
        F.row_number().over(w).cast("long").alias("rank"),
    )


def to_ntriples(canon_triples: DataFrame) -> DataFrame:
    """RDF N-Triples serialization of the canonical graph — the interchange
    materialization (north rule "graph materialize"): one line per triple,
    ``<urn:kg:e:SUBJ> <urn:kg:r:PRED> <urn:kg:e:OBJ> .`` with the predicate
    slugged into the URI-safe [a-z0-9_] alphabet (bytes outside [a-z0-9 ]
    dropped first, then trim + whitespace runs -> '_', empty slug ->
    'related_to'). Entity ids are md5 hex, already URI-safe. Pure narrow
    projection — no exchange; at 100 TB this is a map stage writing text
    files."""
    slug = F.regexp_replace(
        F.trim(F.regexp_replace(F.col("pred"), r"[^a-z0-9 ]", "")), r"\s+", "_"
    )
    slug = F.when(slug == "", F.lit("related_to")).otherwise(slug)
    line = F.concat(
        F.lit("<urn:kg:e:"), F.col("subj_id"),
        F.lit("> <urn:kg:r:"), slug,
        F.lit("> <urn:kg:e:"), F.col("obj_id"), F.lit("> ."),
    )
    return canon_triples.select(
        line.alias("ntriple"), "url", F.col("sent_idx").cast("long").alias("sent_idx")
    )


def triangles(edges: DataFrame, orient: str = "degree") -> DataFrame:
    """Triangle enumeration over the entity co-occurrence graph — the
    clustering/community primitive of KG analytics. Input is the
    AGGREGATED undirected edge table (``cooccurrence_edges``: one row per
    unordered pair, ent_a|type_a < ent_b|type_b lexicographically); output
    is one row per triangle with its three corners in that same order, so
    each triangle appears exactly once (a<b<c makes the orientation
    canonical — no /6 dedup pass needed).

    Scale shape (``orient="degree"``, the default): the compact-forward /
    degree-ordered node-iterator (Schank & Wagner 2005; the standard
    web-scale refinement). Edges are re-oriented from the lower-(degree,
    key) endpoint to the higher, wedges form at each edge's SOURCE —
    which is always its lowest-degree-class vertex, so a hub entity
    ("covid" co-occurring with everything) contributes wedges bounded by
    its low-degree neighbors' out-degrees, never deg(hub)^2 — and the
    closing join checks the oriented (x, y) edge. Both shuffles move
    tables bounded by distinct co-occurring pairs, not corpus size; the
    oriented edge table feeds all three join sides, so it is persisted
    once. ``orient="lex"`` keeps the naive lexicographic orientation
    (wedges at the lex-smallest vertex — quadratic at a lex-small hub);
    both orientations enumerate the identical triangle set (each triangle
    is found exactly once, at its unique minimum vertex in the respective
    total order), which the unit tests assert."""
    e0 = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("ka"),
        F.concat_ws("|", "ent_b", "type_b").alias("kb"),
    )
    if orient == "degree":
        # total order (degree, key): zero-padded degree prefix makes it one
        # sortable string; ties (equal degree) break on the key itself
        deg = (
            e0.select(F.col("ka").alias("k"))
            .unionAll(e0.select(F.col("kb").alias("k")))
            .groupBy("k")
            .agg(F.count("*").alias("deg"))
            .select(
                "k",
                F.concat_ws(
                    "|", F.lpad(F.col("deg").cast("string"), 12, "0"), "k"
                ).alias("ordk"),
            )
        )
        da = deg.select(F.col("k").alias("ka"), F.col("ordk").alias("ord_a"))
        db = deg.select(F.col("k").alias("kb"), F.col("ordk").alias("ord_b"))
        oriented = (
            e0.join(da, "ka")
            .join(db, "kb")
            .select(
                F.when(F.col("ord_a") < F.col("ord_b"), F.col("ka"))
                .otherwise(F.col("kb")).alias("src"),
                F.when(F.col("ord_a") < F.col("ord_b"), F.col("kb"))
                .otherwise(F.col("ka")).alias("dst"),
                F.greatest("ord_a", "ord_b").alias("dst_ord"),
            )
        )
    else:
        oriented = e0.select(
            F.col("ka").alias("src"), F.col("kb").alias("dst"),
            F.col("kb").alias("dst_ord"),
        )
    e = scoped_persist(oriented)
    w1 = e.select("src", F.col("dst").alias("x"), F.col("dst_ord").alias("xo"))
    w2 = e.select("src", F.col("dst").alias("y"), F.col("dst_ord").alias("yo"))
    wedges = w1.join(w2, "src").filter(F.col("xo") < F.col("yo"))
    close = e.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    tri = wedges.join(close, ["x", "y"])
    # canonicalize corners back to a < b < c in binary order of the
    # "ent|etype" key — the same concatenated-string comparison the edge
    # table and the DuckDB oracle use, so the output convention matches
    # regardless of orientation
    corners = F.array_sort(F.array("src", "x", "y"))

    def part(i, j):
        return F.split(corners[i], r"\|")[j]

    return tri.select(
        part(0, 0).alias("ent_a"), part(0, 1).alias("type_a"),
        part(1, 0).alias("ent_b"), part(1, 1).alias("type_b"),
        part(2, 0).alias("ent_c"), part(2, 1).alias("type_c"),
    )


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the entity
    co-occurrence graph — the cohesion dashboard beside triangles/k-core
    (Watts & Strogatz 1998): coeff(v) = 2*t(v) / (deg(v)*(deg(v)-1)).
    Emitted as INTEGER sufficient statistics (coeff_num = 2*t,
    coeff_den = deg*(deg-1)) so the hash gate carries no float — the
    kg_assortativity / dedup_jaccard precedent; the ratio is a cheap
    derived column for the consumer.

    Returns (ent, etype, degree, n_tri, coeff_num, coeff_den); degree-1
    nodes carry coeff_den = 0 (the conventional undefined case, left to
    the consumer rather than silently zeroed).

    Scale shape: the aggregated edge table is persisted once (it feeds
    the degree aggregate AND the degree-ordered triangle enumeration,
    which scans it three more times); triangle corners are one narrow
    union + aggregate over the triangle set; the final join is
    node-keyed between two bounded aggregates. Nothing corpus-sized is
    broadcast or collected."""
    e = scoped_persist(edges.select("ent_a", "type_a", "ent_b", "type_b"))
    tri = triangles(e)
    corners = (
        tri.select(F.concat_ws("|", "ent_a", "type_a").alias("k"))
        .unionAll(tri.select(F.concat_ws("|", "ent_b", "type_b").alias("k")))
        .unionAll(tri.select(F.concat_ws("|", "ent_c", "type_c").alias("k")))
    )
    ntri = corners.groupBy("k").agg(F.count("*").cast("long").alias("n_tri"))
    deg = (
        e.select(F.concat_ws("|", "ent_a", "type_a").alias("k"))
        .unionAll(e.select(F.concat_ws("|", "ent_b", "type_b").alias("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    out = deg.join(ntri, "k", "left").withColumn(
        "n_tri", F.coalesce(F.col("n_tri"), F.lit(0).cast("long"))
    )
    return out.select(
        F.split("k", r"\|")[0].alias("ent"),
        F.split("k", r"\|")[1].alias("etype"),
        "degree",
        "n_tri",
        (F.col("n_tri") * 2).cast("long").alias("coeff_num"),
        (F.col("degree") * (F.col("degree") - 1)).cast("long").alias("coeff_den"),
    )


def common_neighbors(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Common-neighbor counts over the entity co-occurrence graph — the
    link-prediction primitive (pairs sharing many neighbors are candidate
    missing/future edges; the count is also the numerator of adjacency
    Jaccard). Returns one row per entity pair with >= 1 common neighbor
    after capping: (ent_x, type_x, ent_y, type_y, n_common, deg_x, deg_y,
    linked) — all integers; ``linked`` = 1 if the pair is itself an edge
    (known link) else 0 (the prediction candidates).

    Wedge enumeration at a middle node is inherently deg^2, so the DEFAULT
    is degree-capped: middle nodes with degree > cap are excluded from
    pair generation (the ``dedup_jaccard`` df-cap pattern — a hub like
    "covid" is a near-useless similarity witness anyway, exactly like a
    stop-shingle). The cap is corpus-adaptive — clamp(icbrt_ceil(n_sym),
    16, 4096) over the symmetrized edge count, computed by an O(1) driver
    action and replayed exactly by the DuckDB oracle (shared exact integer
    cube root, ADVICE r04) — so the pair stage is never hub-quadratic at
    any corpus size. ``deg_x``/``deg_y`` report FULL degrees (the cap
    only gates who may act as a witness). The symmetrized adjacency feeds
    pair generation twice plus the degree aggregate, so it is persisted
    once."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("mid"),
            F.concat_ws("|", "ent_b", "type_b").alias("nb"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("mid"),
                F.concat_ws("|", "ent_a", "type_a").alias("nb"),
            )
        )
    )
    if max_degree is None:
        max_degree = max(16, min(4096, icbrt_ceil(max(sym.count(), 1))))
    deg = sym.groupBy("mid").agg(F.count("*").cast("long").alias("deg"))
    mids = sym.join(deg.filter(F.col("deg") <= max_degree), "mid")
    a = mids.select("mid", F.col("nb").alias("kx"))
    b = mids.select("mid", F.col("nb").alias("ky"))
    cn = (
        a.join(b, "mid")
        .filter(F.col("kx") < F.col("ky"))
        .groupBy("kx", "ky")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    dx = deg.select(F.col("mid").alias("kx"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("mid").alias("ky"), F.col("deg").alias("deg_y"))
    ek = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("kx"),
        F.concat_ws("|", "ent_b", "type_b").alias("ky"),
        F.lit(1).cast("long").alias("linked"),
    )
    out = (
        cn.join(dx, "kx")
        .join(dy, "ky")
        .join(ek, ["kx", "ky"], "left")
        .withColumn("linked", F.coalesce("linked", F.lit(0).cast("long")))
    )

    def part(k, j):
        return F.split(F.col(k), r"\|")[j]

    return out.select(
        part("kx", 0).alias("ent_x"), part("kx", 1).alias("type_x"),
        part("ky", 0).alias("ent_y"), part("ky", 1).alias("type_y"),
        "n_common", "deg_x", "deg_y", "linked",
    )


def pagerank(
    edges: DataFrame, iterations: int = 3, scale: int = 1_000_000_000
) -> DataFrame:
    """Integer-arithmetic PageRank over the entity co-occurrence graph —
    the global-importance ranking of KG analytics (which canonical
    entities anchor the graph). Input is the AGGREGATED undirected edge
    table (``cooccurrence_edges``); output is (ent, etype, deg,
    rank_scaled) after ``iterations`` synchronous power steps with
    damping 0.85.

    All arithmetic is INTEGER (the NPMI sufficient-statistics precedent
    taken one step further): ranks start at ``scale`` per node and each
    step computes ``rank' = (15*scale) div 100 + (85 * sum(rank_src div
    deg_src)) div 100`` with long division. Integer addition is
    commutative and division truncation is engine-independent for
    positive longs, so the DuckDB oracle replays the exact ranks with
    unrolled CTE iterations — no float summation order to diverge, no
    epsilon in the hash gate. The float rank is ``rank_scaled / scale``
    if a consumer wants it (never hashed).

    Scale shape: the symmetrized adjacency (bounded by distinct
    co-occurring pairs, not corpus size) is persisted once and reused
    every step; each step is one src-keyed equi-join (rank table is
    node-sized, far smaller than the adjacency) plus one dst-keyed
    map-side-combining sum — the standard synchronous PageRank shuffle
    pair, O(iterations) rounds. A hub entity is one reducer key. Overflow
    bound: total mass stays ~n_nodes*scale, so contributions*85 fit a
    long while n_nodes*scale < ~1e17 — at 1e9+ nodes drop ``scale`` to
    1e6 (documented knob, asserted nowhere hot). The co-occurrence graph
    is symmetric, so there are no dangling nodes and no isolated nodes
    (every node has deg >= 1 and >= 1 in-edge) — the left join +
    coalesce(0) is belt-and-braces only.
    """
    tele = 15 * scale // 100
    sym = _sym_persist(edges)
    deg = scoped_persist(
        sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        .select(F.col("src").alias("k"), "deg")
    )
    r = deg.select("k", "deg", F.lit(scale).cast("long").alias("rank"))
    for _ in range(iterations):
        msgs = sym.join(
            r.select(F.col("k").alias("src"), F.expr("rank div deg").alias("c")),
            "src",
        ).select(F.col("dst").alias("k"), "c")
        incoming = msgs.groupBy("k").agg(F.sum("c").alias("s"))
        r = deg.join(incoming, "k", "left").select(
            "k", "deg",
            F.expr(
                f"CAST({tele} AS BIGINT) + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100"
            ).alias("rank"),
        )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return r.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "deg", F.col("rank").alias("rank_scaled"),
    )


def paths_2hop(support: DataFrame, max_mid_degree: int | None = None) -> DataFrame:
    """Two-hop path enumeration over the canonical triple graph — the KG
    inference/query primitive (a -pred_ab-> b -pred_bc-> c candidate
    compositions, e.g. drug -treats-> disease -caused_by-> pathogen).
    Input is the ``triple_support`` table (one row per DISTINCT canonical
    graph edge with support counts — bounded by distinct edges, never
    corpus-sized); output is one row per 2-hop path through an eligible
    middle node.

    Scale shape: path enumeration at a middle node is out_deg*in_deg —
    inherently quadratic at hubs — so the DEFAULT caps the middle node
    (both its in- and out-degree must be <= cap) with the corpus-adaptive
    ``clamp(icbrt_ceil(n_edges), 16, 4096)`` shared with common_neighbors
    (the df-cap pattern: a hub middle like "covid" composes with
    everything and predicts nothing). Endpoint degrees are NOT capped —
    the cap only gates who may act as the bridge. The join is an
    equi-join on the middle entity id between two bounded tables; the
    support table feeds both sides plus the degree aggregates, so it is
    persisted once. Cycles (a == c round trips) are kept but flagged
    (``is_cycle``) so consumers filter without a second pass."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    sup = scoped_persist(
        support.select(
            "subj_id", "pred", "obj_id", "subj_type", "obj_type",
            "n_docs", "subj_repr", "obj_repr",
        )
    )
    if max_mid_degree is None:
        max_mid_degree = max(16, min(4096, icbrt_ceil(max(sup.count(), 1))))
    out_deg = sup.groupBy("subj_id").agg(F.count("*").cast("long").alias("out_deg"))
    in_deg = sup.groupBy("obj_id").agg(F.count("*").cast("long").alias("in_deg"))
    mids = (
        out_deg.join(in_deg, out_deg["subj_id"] == in_deg["obj_id"])
        .filter(
            (F.col("out_deg") <= max_mid_degree)
            & (F.col("in_deg") <= max_mid_degree)
        )
        .select(F.col("subj_id").alias("mid_ok"))
    )
    e1 = sup.select(
        F.col("subj_id").alias("a_id"), F.col("subj_type").alias("a_type"),
        F.col("subj_repr").alias("a_repr"), F.col("pred").alias("pred_ab"),
        F.col("obj_id").alias("mid_id"), F.col("obj_type").alias("mid_type"),
        F.col("obj_repr").alias("mid_repr"), F.col("n_docs").alias("n_docs_ab"),
    )
    e2 = sup.select(
        F.col("subj_id").alias("mid_id"), F.col("pred").alias("pred_bc"),
        F.col("obj_id").alias("c_id"), F.col("obj_type").alias("c_type"),
        F.col("obj_repr").alias("c_repr"), F.col("n_docs").alias("n_docs_bc"),
    )
    return (
        e1.join(mids, e1["mid_id"] == mids["mid_ok"]).drop("mid_ok")
        .join(e2, "mid_id")
        .select(
            "a_id", "a_type", "a_repr", "pred_ab",
            "mid_id", "mid_type", "mid_repr", "pred_bc",
            "c_id", "c_type", "c_repr",
            "n_docs_ab", "n_docs_bc",
            F.when(F.col("a_id") == F.col("c_id"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")).alias("is_cycle"),
        )
    )


def graph_components(edges: DataFrame) -> DataFrame:
    """Weakly connected components of the entity co-occurrence graph —
    the topic-island decomposition (which entities form one connected
    discourse cluster). Reuses ``connected_components_star`` (the same
    O(log n)-round large/small-star loop the ER chain runs, property-
    tested against brute force), so the entity graph gets the scale-safe
    CC for free. Returns (ent, etype, component, comp_size); the
    component id is the lexicographic-min member key — deterministic and
    replayed by the oracle's RECURSIVE min-reachable fixpoint."""
    e = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("node_a"),
        F.concat_ws("|", "ent_b", "type_b").alias("node_b"),
    )
    nodes = (
        e.select(F.col("node_a").alias("node_id"))
        .unionAll(e.select(F.col("node_b").alias("node_id")))
        .distinct()
    )
    labels, _iters = connected_components_star(nodes, e)
    sizes = labels.groupBy("component").agg(
        F.count("*").cast("long").alias("comp_size")
    )
    out = labels.join(sizes, "component")

    def part(j):
        return F.split(F.col("node_id"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "component", "comp_size",
    )


def kcore(edges: DataFrame, k: int = 3, rounds: int | None = 4) -> DataFrame:
    """k-core peel over the entity co-occurrence graph — the dense-nucleus
    extractor (nodes that survive iterated removal of degree < k; the
    standard KG noise/periphery cut before community analysis). Returns
    surviving (ent, etype, core_deg) where core_deg is the degree in the
    surviving subgraph.

    ``rounds=N`` (default 4) runs a FIXED number of synchronous peel
    rounds — the hash-gateable prefix the DuckDB oracle replays with
    unrolled CTEs (a shrinking-set fixpoint is not expressible as a
    monotone RECURSIVE union). ``rounds=None`` peels to the true fixpoint
    with an O(1) driver probe per round: the edge set only shrinks, so an
    unchanged edge COUNT certifies convergence — no set compare needed
    (unit-tested against a Python brute-force k-core).

    Scale shape: each round is one map-side-combining degree aggregate
    plus two semi-join-shaped equi-joins of the edge table against the
    (node-sized) survivor set; each round localCheckpoints, so lineage
    stays bounded (the plan would otherwise triple per round). Power-law
    graphs shed their periphery in a handful of rounds — the fixed-round
    default is the bulk of the cut; the fixpoint variant is the exact
    tail."""
    sym = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("src"),
        F.concat_ws("|", "ent_b", "type_b").alias("dst"),
    ).unionAll(
        edges.select(
            F.concat_ws("|", "ent_b", "type_b").alias("src"),
            F.concat_ws("|", "ent_a", "type_a").alias("dst"),
        )
    )
    sym = sym.localCheckpoint()

    def peel(s: DataFrame) -> DataFrame:
        alive = (
            s.groupBy("src").agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        return (
            s.join(alive, "src")
            .join(alive.select(F.col("src").alias("dst")), "dst")
            .select("src", "dst")
        )

    if rounds is None:
        n = sym.count()
        while True:
            sym = peel(sym).localCheckpoint()
            n2 = sym.count()
            if n2 == n:
                break
            n = n2
    else:
        for _ in range(rounds):
            sym = peel(sym).localCheckpoint()

    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("core_deg"))

    def part(j):
        return F.split(F.col("src"), r"\|")[j]

    return deg.select(part(0).alias("ent"), part(1).alias("etype"), "core_deg")


def link_entities_to_kb(
    nodes: DataFrame, kb_sig: DataFrame, max_lev: int = 2
) -> DataFrame:
    """Entity linking: canonical entity nodes -> best match in a bounded
    KB term table (the bootstrapped signature vocab stands in for the KB;
    the reference's vocab->label clusters, ner_labeling/construct_bs.py,
    ARE its entity knowledge base).

    TWO channels, cheapest-first (chan is the hashed provenance column):
      chan 0 — full normalized surface vs KB term;
      chan 1 — HEAD token (last word; the reference types multi-word
               mentions by their head, batched_main_NER.py first/last-word
               convention) vs KB term — the fallback that links the
               multi-word entities a single-token vocab can never match
               in full.
    Candidate generation is BLOCKED, never all-pairs: a 2-char-prefix
    block key plus a +-max_lev length band, then an exact levenshtein
    verify <= max_lev. Standard blocking recall tradeoff (documented): a
    typo inside the first two characters is not recalled.

    Scale shape: the KB is a bounded dim (<= ~25k terms) -> normalized,
    deduped and BROADCAST, so the corpus-sized node table never shuffles
    for candidate generation (the 2-channel union is two narrow
    projections of a bounded-by-content node table, still shuffle-free);
    the only exchange is the final per-node argmin, expressed as
    min(struct(chan, lev, kb_term, kb_label)) so it partially aggregates
    map-side (no row_number sort over the corpus). Deterministic: KB
    norms are unique after the dedup argmin and terms are globally
    distinct, so (chan, lev, kb_term) totally orders candidates.
    """
    kb_norm = norm_surface_col(F.col("term"))
    kbn = (
        kb_sig.select(
            kb_norm.alias("kb_norm"),
            F.struct(
                F.col("term").alias("kb_term"),
                F.element_at("labels", 1).alias("kb_label"),
            ).alias("kv"),
        )
        .filter(F.length("kb_norm") > 0)
        .groupBy("kb_norm")
        .agg(F.min("kv").alias("kv"))
        .select("kb_norm", "kv.kb_term", "kv.kb_label")
    )
    base = ["node_id", "norm_surface", "etype", "n_mentions"]
    fulls = nodes.select(
        *base, F.col("norm_surface").alias("qkey"), F.lit(0).alias("chan")
    )
    heads = nodes.select(
        *base,
        F.element_at(F.split("norm_surface", " "), -1).alias("qkey"),
        F.lit(1).alias("chan"),
    )
    keys = fulls.unionByName(heads)
    lev = F.levenshtein(F.col("qkey"), F.col("kb_norm"))
    cand = (
        keys.join(
            F.broadcast(kbn),
            (F.substring("qkey", 1, 2) == F.substring("kb_norm", 1, 2))
            & (F.abs(F.length("qkey") - F.length("kb_norm")) <= F.lit(max_lev)),
        )
        .filter(lev <= max_lev)
        .select(
            *base,
            F.struct(
                F.col("chan"),
                lev.alias("lev"),
                F.col("kb_term"),
                F.col("kb_label"),
            ).alias("cand"),
        )
    )
    best = cand.groupBy(*base).agg(F.min("cand").alias("best"))
    return best.select(
        "node_id",
        "norm_surface",
        "etype",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("best.chan").cast("long").alias("chan"),
        F.col("best.kb_term").alias("kb_term"),
        F.col("best.kb_label").alias("kb_label"),
        F.col("best.lev").cast("long").alias("lev"),
    )


def entity_cards(occurrences: DataFrame, membership: DataFrame) -> DataFrame:
    """Per-canonical-entity profile card — the KG serving table an entity
    page renders from: (entity_id, etype, top_alias, n_aliases,
    n_mentions, n_docs). top_alias is the most frequent raw surface
    (count desc, surface asc — deterministic); n_docs counts distinct
    source pages, the cross-document-support signal.

    Scale shape: occurrences join membership on (norm_surface, etype) —
    the salted-link caveat applies to hot surfaces at extreme scale — and
    the resolved stream is persisted once because it feeds TWO aggregates
    (the card stats and the per-surface alias counts). Both aggregates
    map-side combine; the top-alias window partitions by entity_id over
    the per-surface table, bounded by distinct spellings per entity, not
    occurrences."""
    from pyspark.sql import Window

    occx = scoped_persist(
        occurrences.join(membership, ["norm_surface", "etype"]).select(
            "entity_id", "etype", "surface", "url"
        )
    )
    stats = occx.groupBy("entity_id", "etype").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("url").cast("long").alias("n_docs"),
        F.countDistinct("surface").cast("long").alias("n_aliases"),
    )
    per_surface = occx.groupBy("entity_id", "surface").agg(
        F.count("*").cast("long").alias("n_m")
    )
    w = Window.partitionBy("entity_id").orderBy(
        F.desc("n_m"), F.asc("surface")
    )
    top = (
        per_surface.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("entity_id", F.col("surface").alias("top_alias"))
    )
    return stats.join(top, "entity_id").select(
        "entity_id", "etype", "top_alias", "n_aliases", "n_mentions", "n_docs"
    )


def predicate_pairs(triples: DataFrame) -> DataFrame:
    """Schema-induction signal: which normalized predicates co-occur on
    the SAME subject entity — the relation-clustering input ("born_in"
    and "raised_in" sharing most subjects suggests near-synonym
    relations). Per unordered (pred_a < pred_b) pair, the count of
    distinct (subj, subj_type) subjects exhibiting both.

    Scale shape: distinct (subj, subj_type, pred_norm) first (one
    aggregate — a subject repeating a predicate across 10^6 pages
    collapses before any join), then a self-join co-partitioned on the
    subject key — bounded by predicates-per-subject, never corpus-
    quadratic — and a map-side-combining pair count."""
    d = scoped_persist(
        triples.select("subj", "subj_type", "pred_norm").distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.subj") == F.col("b.subj"))
            & (F.col("a.subj_type") == F.col("b.subj_type"))
            & (F.col("a.pred_norm") < F.col("b.pred_norm")),
        )
        .groupBy(
            F.col("a.pred_norm").alias("pred_a"),
            F.col("b.pred_norm").alias("pred_b"),
        )
        .agg(F.count("*").cast("long").alias("n_subjects"))
    )


def entity_trends(typed_with_ts: DataFrame, burst_num: int = 3, burst_den: int = 2) -> DataFrame:
    """Per-entity DAILY mention series + integer burst rule — the temporal
    KG signal (entity activity over crawl time, the per-entity companion
    of triples_temporal's per-edge first/last-seen).

    Input: typed mentions carrying ``obs_ts`` (epoch seconds, the page's
    warc_ts). Output one row per (ent, etype, obs_day):
    (ent, etype, obs_day, n_mentions, n_total, n_days, is_burst) where
    is_burst flags a day whose count exceeds (burst_num/burst_den)x the
    entity's daily average — evaluated CROSS-MULTIPLIED in BIGINT
    (n_mentions * n_days * burst_den > burst_num * n_total), so no float
    ever enters the hashed surface (the NPMI precedent).

    Scale shape: one map-side-combining aggregate from the corpus-sized
    mention stream down to the bounded (entity, day) series, then a
    window PARTITIONED BY entity whose partitions are bounded by the
    number of distinct days an entity was observed (the crawl's day span,
    NOT corpus size) — a hot entity seen on every day of a 10-year crawl
    is still a ~3,650-row partition."""
    from pyspark.sql import Window

    norm = norm_surface_col(F.col("surface"))
    daily = (
        typed_with_ts.select(
            norm.alias("ent"),
            F.col("pred_group").alias("etype"),
            F.floor(F.col("obs_ts") / F.lit(86400)).cast("long").alias("obs_day"),
        )
        .filter((F.col("etype") != "OTHER") & (F.length("ent") > 0))
        .groupBy("ent", "etype", "obs_day")
        .agg(F.count("*").cast("long").alias("n_mentions"))
    )
    w = Window.partitionBy("ent", "etype")
    return daily.select(
        "ent", "etype", "obs_day", "n_mentions",
        F.sum("n_mentions").over(w).cast("long").alias("n_total"),
        F.count("*").over(w).cast("long").alias("n_days"),
    ).withColumn(
        "is_burst",
        (
            F.col("n_mentions") * F.col("n_days") * F.lit(burst_den)
            > F.lit(burst_num) * F.col("n_total")
        ).cast("long"),
    )


def cluster_stats(membership: DataFrame) -> DataFrame:
    """ER quality histogram: distribution of canonical-cluster sizes —
    the one-glance dashboard that catches both over-merging (a giant
    cluster appears) and under-merging (everything is a singleton).

    Input: the resolve_entities membership table (norm_surface, etype,
    entity_id). Output one row per (etype, cluster_size):
    (etype, cluster_size, n_clusters, n_surfaces) — n_surfaces =
    cluster_size * n_clusters, kept as a column for direct reading.

    Scale shape: two bounded aggregates — membership is bounded by
    distinct surface forms, the size table by distinct entities, the
    histogram by distinct sizes. Everything map-side combines."""
    sizes = membership.groupBy("entity_id", "etype").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("etype", "cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.count("*") * F.col("cluster_size")).cast("long").alias("n_surfaces"),
    )


def reciprocal_pairs(triples: DataFrame) -> DataFrame:
    """Reciprocated entity pairs: (A, B) observed as triples in BOTH
    directions — mutual-relation motifs (partner_of, borders, married_to)
    vs one-way ones, the simplest directed-graph symmetry diagnostic and
    a strong signal for merging inverse predicates during schema cleanup.

    Output one row per unordered pair with ``ent_a < ent_b``:
    ``n_ab``/``n_ba`` triple counts per direction and the sorted distinct
    normalized-predicate list per direction (deterministic '|' joins).

    Scale shape: triples collapse to the DISTINCT directed edge table
    first (one map-side-combining aggregate, bounded by the edge
    vocabulary, persisted once — it feeds both self-join sides); the
    reciprocity test is an equi-join of that bounded table against its
    own reversed key, never a corpus-scale pairing."""
    from unsupervised_ner_spark.caching import scoped_persist

    edges = scoped_persist(
        triples.groupBy("subj", "obj").agg(
            F.count("*").cast("long").alias("n"),
            F.array_join(F.array_sort(F.collect_set("pred_norm")), "|").alias(
                "preds"
            ),
        )
    )
    a = edges.filter(F.col("subj") < F.col("obj")).select(
        F.col("subj").alias("ent_a"),
        F.col("obj").alias("ent_b"),
        F.col("n").alias("n_ab"),
        F.col("preds").alias("preds_ab"),
    )
    b = edges.filter(F.col("subj") > F.col("obj")).select(
        F.col("obj").alias("ent_a"),
        F.col("subj").alias("ent_b"),
        F.col("n").alias("n_ba"),
        F.col("preds").alias("preds_ba"),
    )
    return a.join(b, ["ent_a", "ent_b"])


def entity_salience(typed_mentions: DataFrame) -> DataFrame:
    """Per-document entity salience — the serving-layer "what is this page
    about" table (the first KG artifact a search/recommendation consumer
    asks for): per (url, normalized entity, type) the mention count, the
    first sentence it appears in, a lead-sentence flag, and a
    deterministic within-document salience rank
    (n_mentions DESC, first_sent ASC, ent ASC, etype ASC).

    Scale shape: ONE map-side-combining aggregate keyed (url, ent, etype)
    + ONE window partitioned BY DOCUMENT — partitions are bounded by a
    page's distinct entities (tens), never corpus-sized; no corpus-wide
    sort exists in the plan. Reference anchor: salience is an engine-new
    serving product over the typed-mention semantics of
    batched_main_NER.py's per-sentence output."""
    from pyspark.sql import Window

    norm = norm_surface_col(F.col("surface"))
    ents = (
        typed_mentions.select(
            "url", "sent_idx",
            norm.alias("ent"), F.col("pred_group").alias("etype"),
        )
        .filter((F.col("etype") != "OTHER") & (F.length("ent") > 0))
        .groupBy("url", "ent", "etype")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.min("sent_idx").cast("long").alias("first_sent"),
        )
    )
    w = Window.partitionBy("url").orderBy(
        F.desc("n_mentions"), F.asc("first_sent"), F.asc("ent"), F.asc("etype")
    )
    return ents.select(
        "url", "ent", "etype", "n_mentions", "first_sent",
        (F.col("first_sent") == 0).alias("in_lead"),
        F.row_number().over(w).cast("long").alias("salience_rank"),
    )


def entity_ambiguity(typed_mentions: DataFrame) -> DataFrame:
    """Entity type-ambiguity dashboard — the KG-quality table that says
    which surfaces the typing pass cannot pin down: per normalized
    entity, how many distinct types it was observed under, total
    mentions, and the dominant type with its count (deterministic
    tie-break: count DESC, type ASC via a min(struct(-n, etype))
    argmin — no window). ``ambiguous`` marks multi-type surfaces; a
    surface like "washington" (PERSON vs LOCATION) is exactly what this
    surfaces for downstream disambiguation or ER blocking.

    Scale shape: two cascaded map-side-combining aggregates — (ent,
    etype) then ent — both bounded by distinct content, never corpus
    row count. No join, no window."""
    norm = norm_surface_col(F.col("surface"))
    g = (
        typed_mentions.select(
            norm.alias("ent"), F.col("pred_group").alias("etype")
        )
        .filter((F.col("etype") != "OTHER") & (F.length("ent") > 0))
        .groupBy("ent", "etype")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("etype").alias("etype")))
    return (
        g.groupBy("ent")
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.sum("n").cast("long").alias("n_mentions"),
            top.alias("top"),
        )
        .select(
            "ent", "n_types", "n_mentions",
            F.col("top.etype").alias("top_type"),
            (-F.col("top.neg_n")).cast("long").alias("top_n"),
            (F.col("n_types") > 1).alias("ambiguous"),
        )
    )


def entity_type_matrix(typed_mentions: DataFrame) -> DataFrame:
    """Type-level sentence co-occurrence matrix — the bounded (|types|^2)
    schema-induction summary of the entity graph: which TYPE pairs share
    sentences and how often. The aggregate a KG architect reads before
    deciding which relations to model at all.

    Scale shape: the distinct per-sentence type table is persisted once
    and feeds both self-join sides (the cooccurrence_edges posture one
    level up the type hierarchy); the pairing join is sentence-local and
    the final aggregate output is bounded by the type vocabulary
    squared."""
    from unsupervised_ner_spark.caching import scoped_persist

    t = scoped_persist(
        _sentence_entities(typed_mentions)
        .select("url", "sent_idx", "etype")
        .distinct()
    )
    a = t.select("url", "sent_idx", F.col("etype").alias("type_a"))
    b = t.select("url", "sent_idx", F.col("etype").alias("type_b"))
    pairs = a.join(b, ["url", "sent_idx"]).filter(F.col("type_a") < F.col("type_b"))
    return pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_sents"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )


def entity_provenance(typed_mentions: DataFrame, doc_domains: DataFrame) -> DataFrame:
    """Entity source-diversity table — the KG trust primitive: an entity
    supported by mentions across MANY independent registered domains is
    corroborated; one supported by a single domain is that domain's
    claim. Joins the typed mentions to a (url, reg_domain) provenance
    dim and aggregates per (ent, etype): mention/doc/domain counts plus
    the dominant domain (min(struct(-n, domain)) argmin — the
    entity_ambiguity posture, no window).

    Scale shape: the provenance join is url-keyed (page-local); then two
    cascaded map-side-combining aggregates bounded by distinct content.
    Each url belongs to exactly ONE domain, so the per-domain distinct-
    doc counts sum to the total doc count without a second distinct."""
    norm = norm_surface_col(F.col("surface"))
    ents = typed_mentions.select(
        "url", norm.alias("ent"), F.col("pred_group").alias("etype")
    ).filter((F.col("etype") != "OTHER") & (F.length("ent") > 0))
    j = ents.join(doc_domains, "url")
    gd = j.groupBy("ent", "etype", "reg_domain").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("url").cast("long").alias("nd"),
    )
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("reg_domain").alias("dom")))
    return (
        gd.groupBy("ent", "etype")
        .agg(
            F.sum("n").cast("long").alias("n_mentions"),
            F.sum("nd").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_domains"),
            top.alias("top"),
        )
        .select(
            "ent", "etype", "n_mentions", "n_docs", "n_domains",
            F.col("top.dom").alias("top_domain"),
            (-F.col("top.neg_n")).cast("long").alias("top_n"),
        )
    )


def _lpa_labels(edges: DataFrame, iterations: int) -> tuple[DataFrame, DataFrame]:
    """Shared LPA core (label_propagation + modularity): symmetrized
    adjacency (persisted once) and the key-level (k, lbl) label table
    after ``iterations`` synchronous deterministic-vote rounds."""
    from pyspark.sql import Window

    sym = _sym_persist(edges)
    labels = sym.select(F.col("src").alias("k")).distinct().select(
        "k", F.col("k").alias("lbl")
    )
    # round-6 (guide §2.3): the per-round argmax is a min-STRUCT aggregate,
    # not a row_number window — ``min(struct(-cnt, lbl)).lbl`` realizes the
    # identical deterministic (cnt DESC, lbl ASC) vote (cnt >= 1 so -cnt is
    # overflow-free), gets map-side partial aggregation before its exchange,
    # and replaces the window's partition sort with a hash aggregate.
    for _ in range(iterations):
        votes = (
            sym.join(labels.select(F.col("k").alias("src"), "lbl"), "src")
            .groupBy("dst", "lbl")
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        labels = (
            votes.groupBy("dst")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lbl"))
                ).alias("top")
            )
            .select(F.col("dst").alias("k"), F.col("top.lbl").alias("lbl"))
        )
    return sym, labels


def label_propagation(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """Synchronous label-propagation communities over the entity
    co-occurrence graph — the topic-clustering step between connected
    components (too coarse: one giant discourse island) and k-core (no
    assignment): every entity adopts the most common label among its
    neighbours each round, so densely interlinked entity groups converge
    to one community id (Raghavan et al. 2007, the near-linear community
    baseline).

    Determinism: classic LPA breaks count ties randomly; here the vote is
    ``(count DESC, label ASC)`` — a total order, so ``iterations`` fixed
    synchronous rounds are bit-reproducible and the DuckDB oracle replays
    them with unrolled CTEs (the pagerank precedent). Labels start as the
    node's own key; the co-occurrence graph is symmetric so every node
    has >= 1 neighbour and is relabelled every round.

    Scale shape: per round, one src-keyed equi-join of the (node-sized)
    label table against the aggregated adjacency, one map-side-combining
    (dst, label) count, and one per-node argmax window — the window
    partition is a node's label HISTOGRAM (bounded by its degree, and
    after the first rounds by its neighbourhood's community count), never
    corpus-sized. The adjacency is persisted once and reused every round.
    A hub is one window partition — skew-bounded by its degree, the same
    exposure pagerank's reducer has."""
    sym, labels = _lpa_labels(edges, iterations)
    sizes = labels.groupBy("lbl").agg(F.count("*").cast("long").alias("comm_size"))
    out = labels.join(sizes, "lbl")

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        F.col("lbl").alias("community"), "comm_size",
    )


def deterministic_walks(
    edges: DataFrame, walks_per_node: int = 2, steps: int = 3
) -> DataFrame:
    """Hash-driven DeepWalk corpus over the entity co-occurrence graph —
    the random-walk sentence generator KG-embedding training (DeepWalk /
    node2vec) consumes: ``walks_per_node`` walks of ``steps`` hops start
    at every node, and each hop moves to the neighbour minimizing
    ``md5(origin|walk_id|step|cur|neighbour)``. The hash plays the RNG:
    walks differ across walk_ids and steps (the hash input changes) yet
    are bit-reproducible, so the DuckDB oracle replays every hop with the
    same md5 and the gate hashes full paths (Date.now-free determinism —
    the txt_sample_hash precedent lifted to graph traversal).

    Scale shape: the frontier is exactly (n_nodes * walks_per_node) rows
    at EVERY step (one row per walk — walks never fork); each hop is one
    equi-join of the frontier against the persisted aggregated adjacency
    on the current node plus one map-side-combining min(struct(hash,
    neighbour)) argmin per walk. A hub's candidate fan-out is its degree
    — the same bounded skew the vote aggregate has. ``steps`` rounds
    total; no window, no collect."""
    sym = _sym_persist(edges)
    nodes = sym.select(F.col("src").alias("origin")).distinct()
    wids = [F.lit(i).cast("long").alias("walk_id") for i in range(walks_per_node)]
    frontier = nodes.select(
        "origin", F.explode(F.array(*wids)).alias("walk_id")
    ).select("origin", "walk_id", F.col("origin").alias("cur"),
             F.col("origin").alias("path"))
    for s in range(1, steps + 1):
        cand = frontier.join(sym, frontier["cur"] == sym["src"])
        h = F.md5(
            F.concat_ws(
                "#", "origin", F.col("walk_id").cast("string"),
                F.lit(str(s)), "cur", "dst",
            )
        )
        nxt = cand.groupBy("origin", "walk_id").agg(
            F.min(F.struct(h.alias("h"), F.col("dst").alias("d"))).alias("top"),
            F.min("path").alias("path"),
        )
        frontier = nxt.select(
            "origin", "walk_id", F.col("top.d").alias("cur"),
            F.concat_ws(">", "path", "top.d").alias("path"),
        )

    def part(j):
        return F.split(F.col("origin"), r"\|")[j]

    return frontier.select(
        part(0).alias("ent"), part(1).alias("etype"), "walk_id", "path",
        F.lit(steps).cast("long").alias("n_steps"),
    )


def walk_skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram training pairs from the deterministic walk corpus — the
    actual word2vec-input table KG-embedding training consumes (DeepWalk
    = random walks + skip-gram; ``deterministic_walks`` generates the
    sentences, this extracts the (center, context) pairs). For every walk
    path, every ordered node pair within a forward window of ``window``
    hops is emitted with its hop distance, then aggregated to corpus
    counts (symmetric context is the downstream trainer's choice — the
    forward direction loses nothing since walks traverse both edge
    directions; the word_pmi_stats convention).

    Scale shape: pair candidates are generated EXPRESSION-SIDE inside the
    path array (per-row sequence transform — no positional self-join);
    one map-side-combining aggregate bounded by the observed (node pair,
    distance) vocabulary. No join, no window function."""
    arr = F.split(F.col("path"), ">")
    w = walks.select(arr.alias("arr"))
    n = F.size("arr")
    empty = F.array().cast("array<struct<src:string,dst:string,dist:int>>")
    branches = []

    # NB: single-argument lambda only (the word_pmi_stats (element, index)
    # trap — a defaulted second parameter silently binds the array index)
    def pair_at(o):
        return lambda i: F.struct(
            F.element_at(F.col("arr"), i).alias("src"),
            F.element_at(F.col("arr"), i + o).alias("dst"),
            F.lit(o).cast("int").alias("dist"),
        )

    for off in range(1, window + 1):
        pa = F.transform(F.sequence(F.lit(1), n - off), pair_at(off))
        branches.append(F.when(n > off, pa).otherwise(empty))
    pairs = w.select(F.explode(F.concat(*branches)).alias("p"))

    def part(col, j):
        return F.split(F.col(col), r"\|")[j]

    return (
        pairs.select(
            F.col("p.src").alias("src"), F.col("p.dst").alias("dst"),
            F.col("p.dist").cast("long").alias("dist"),
        )
        .groupBy("src", "dst", "dist")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            part("src", 0).alias("src_ent"), part("src", 1).alias("src_type"),
            part("dst", 0).alias("dst_ent"), part("dst", 1).alias("dst_type"),
            "dist", "n_pairs",
        )
    )


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Log2-bucketed degree distribution of the entity co-occurrence
    graph, per entity type — the one-glance power-law health dashboard
    (is the graph scale-free or did a pipeline bug weld a clique?).
    ``bucket = floor(log2(degree))`` computed EXACTLY as the bit length
    of the binary representation minus one (``length(conv(deg, 10, 2)) -
    1``; no libm log on either engine — the icbrt_ceil precedent), with
    the [2^bucket, 2^(bucket+1)) bounds materialized as integers.

    Scale shape: entity_degree's one aggregate, then a second map-side-
    combining aggregate bounded by (n_types x 64) output rows. No join,
    no window."""
    deg = entity_degree(edges)
    bucket = (F.length(F.conv(F.col("degree"), 10, 2)) - 1).cast("long")
    return (
        deg.select("etype", bucket.alias("bucket"))
        .groupBy("etype", "bucket")
        .agg(F.count("*").cast("long").alias("n_entities"))
        .select(
            "etype", "bucket",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT))")
            .cast("long").alias("deg_lo"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) + 1) - 1")
            .cast("long").alias("deg_hi"),
            "n_entities",
        )
    )


def link_prediction(
    edges: DataFrame, max_degree: int | None = None, scale: int = 1_000_000
) -> DataFrame:
    """Link-prediction scores over the entity co-occurrence graph — the
    KG-completion ranking step on top of ``common_neighbors``: per
    candidate pair the adjacency-Jaccard ``scale * |Γx ∩ Γy| div
    (deg_x + deg_y - |Γx ∩ Γy|)`` and the resource-allocation index
    ``Σ_z scale div deg(z)`` over shared witnesses z (Zhou et al. 2009 —
    RA discounts hub witnesses harder than Adamic-Adar and needs no log,
    so the score stays exact integer arithmetic in both engines).
    ``linked`` flags known edges; linked=0 rows ranked by either score
    are the missing-edge candidates a KG curator reviews.

    Scale shape: identical to common_neighbors (one wedge join at capped
    middle nodes — the corpus-adaptive icbrt cap — over the persisted
    symmetrized adjacency); the RA sum rides the SAME wedge aggregate as
    the count (witness degree is carried on the wedge row, no extra
    join). Degree/linked attachment joins are pair-table-sized."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("mid"),
            F.concat_ws("|", "ent_b", "type_b").alias("nb"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("mid"),
                F.concat_ws("|", "ent_a", "type_a").alias("nb"),
            )
        )
    )
    if max_degree is None:
        max_degree = max(16, min(4096, icbrt_ceil(max(sym.count(), 1))))
    deg = sym.groupBy("mid").agg(F.count("*").cast("long").alias("deg"))
    mids = sym.join(deg.filter(F.col("deg") <= max_degree), "mid")
    a = mids.select("mid", "deg", F.col("nb").alias("kx"))
    b = mids.select("mid", F.col("nb").alias("ky"))
    cn = (
        a.join(b, "mid")
        .filter(F.col("kx") < F.col("ky"))
        .groupBy("kx", "ky")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.expr(f"CAST({scale} AS BIGINT) div deg"))
            .cast("long").alias("ra_scaled"),
        )
    )
    dx = deg.select(F.col("mid").alias("kx"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("mid").alias("ky"), F.col("deg").alias("deg_y"))
    ek = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("kx"),
        F.concat_ws("|", "ent_b", "type_b").alias("ky"),
        F.lit(1).cast("long").alias("linked"),
    )
    out = (
        cn.join(dx, "kx")
        .join(dy, "ky")
        .join(ek, ["kx", "ky"], "left")
        .withColumn("linked", F.coalesce("linked", F.lit(0).cast("long")))
        .withColumn(
            "jaccard_scaled",
            F.expr(
                f"CAST({scale} AS BIGINT) * n_common"
                " div (deg_x + deg_y - n_common)"
            ).cast("long"),
        )
    )

    def part(k, j):
        return F.split(F.col(k), r"\|")[j]

    return out.select(
        part("kx", 0).alias("ent_x"), part("kx", 1).alias("type_x"),
        part("ky", 0).alias("ent_y"), part("ky", 1).alias("type_y"),
        "n_common", "deg_x", "deg_y", "linked", "jaccard_scaled", "ra_scaled",
    )


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 2) -> DataFrame:
    """k-truss edge peel — the cohesion refinement of k-core (every
    surviving EDGE sits in >= k-2 triangles of the surviving subgraph;
    trusses are the tightly-knit KG cores where co-occurrence is
    corroborated, not incidental). ``rounds`` fixed synchronous peels —
    the hash-gateable prefix, the kcore precedent; each round enumerates
    triangles on the current edge set, counts per-edge support, and drops
    under-supported edges. Output is the surviving canonical edge table
    with the support that admitted it in the final round.

    Scale shape: each round is the degree-ordered node-iterator triangle
    join (the Schank-Wagner orientation triangles() uses — hub wedge sets
    bounded by low-degree endpoints' out-degrees), one map-side-combining
    per-edge support aggregate (each triangle emits its 3 canonical
    edges), and one pair-keyed semi-join-shaped filter. Each round
    localCheckpoints so lineage stays bounded. The triangle SET is
    orientation-independent, so the DuckDB oracle replays the rounds with
    the lex orientation and the support counts agree exactly."""
    ek = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("ka"),
        F.concat_ws("|", "ent_b", "type_b").alias("kb"),
    ).localCheckpoint()
    sup = None
    for _ in range(rounds):
        shaped = ek.select(
            F.split("ka", r"\|")[0].alias("ent_a"),
            F.split("ka", r"\|")[1].alias("type_a"),
            F.split("kb", r"\|")[0].alias("ent_b"),
            F.split("kb", r"\|")[1].alias("type_b"),
        )
        tri = triangles(shaped, orient="degree").select(
            F.concat_ws("|", "ent_a", "type_a").alias("t1"),
            F.concat_ws("|", "ent_b", "type_b").alias("t2"),
            F.concat_ws("|", "ent_c", "type_c").alias("t3"),
        )
        tedges = (
            tri.select(F.col("t1").alias("ka"), F.col("t2").alias("kb"))
            .unionAll(tri.select(F.col("t2").alias("ka"), F.col("t3").alias("kb")))
            .unionAll(tri.select(F.col("t1").alias("ka"), F.col("t3").alias("kb")))
        )
        sup = tedges.groupBy("ka", "kb").agg(
            F.count("*").cast("long").alias("support")
        )
        ek = (
            ek.select("ka", "kb")
            .join(sup, ["ka", "kb"])
            .filter(F.col("support") >= k - 2)
            .localCheckpoint()
        )

    def part(c, j):
        return F.split(F.col(c), r"\|")[j]

    return ek.select(
        part("ka", 0).alias("ent_a"), part("ka", 1).alias("type_a"),
        part("kb", 0).alias("ent_b"), part("kb", 1).alias("type_b"),
        "support",
    )


def personalized_pagerank(
    edges: DataFrame,
    seed_type: str,
    iterations: int = 3,
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the teleport mass lands
    ONLY on the seed set — here every entity of ``seed_type`` — so ranks
    measure importance RELATIVE to that type's neighbourhood (e.g. "which
    diseases matter around the GENE cluster"), the standard KG
    recommendation/relevance primitive (Haveliwala 2002). Same integer
    arithmetic as ``pagerank`` (rank' = is_seed * tele + (85 *
    sum(rank div deg)) div 100 with long division), so the DuckDB oracle
    unrolls the iterations bit-exactly; non-seed nodes start at 0 and
    receive mass only through the walk.

    Scale shape: identical to pagerank — the symmetrized adjacency is
    persisted once and reused every step; each step is one src-keyed
    equi-join plus one dst-keyed map-side-combining sum. The seed flag is
    a column on the node table, never a separate join."""
    tele = 15 * scale // 100
    sym = _sym_persist(edges)
    is_seed = (
        F.split(F.col("k"), r"\|")[1] == F.lit(seed_type)
    ).cast("long")
    deg = scoped_persist(
        sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        .select(F.col("src").alias("k"), "deg")
        .withColumn("seed", is_seed)
    )
    r = deg.select(
        "k", "deg", "seed",
        (F.col("seed") * F.lit(scale)).cast("long").alias("rank"),
    )
    for _ in range(iterations):
        msgs = sym.join(
            r.select(F.col("k").alias("src"), F.expr("rank div deg").alias("c")),
            "src",
        ).select(F.col("dst").alias("k"), "c")
        incoming = msgs.groupBy("k").agg(F.sum("c").alias("s"))
        r = deg.join(incoming, "k", "left").select(
            "k", "deg", "seed",
            F.expr(
                f"seed * CAST({tele} AS BIGINT)"
                f" + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100"
            ).alias("rank"),
        )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return r.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "deg", "seed", F.col("rank").alias("rank_scaled"),
    )


def deterministic_walks2(
    edges: DataFrame,
    walks_per_node: int = 2,
    steps: int = 3,
    return_rank: int = 2,
    common_rank: int = 0,
    explore_rank: int = 1,
) -> DataFrame:
    """Second-order (node2vec-style) deterministic walks: the hop choice
    at step s sees the PREVIOUS node too, and candidates are classed as
    RETURN (dst == prev), COMMON (dst adjacent to prev — BFS-ish, the
    node2vec p/q "stay local" move) or EXPLORE (DFS-ish outward move);
    the next hop is the argmin of (class_rank, md5(origin#walk#step#cur#
    dst)) — the hash is the RNG inside a class, the rank ordering is the
    deterministic stand-in for node2vec's p/q bias weights (default:
    prefer locally-triangulating moves, then exploration, and return
    only when nothing else exists — mirroring p>1, q<1). First hop has
    no prev, so every candidate is EXPLORE and the walk matches the
    first-order operator's first hop.

    Scale shape: the first-order frontier join plus ONE extra left join
    per hop — the candidate set probes the edge table on the canonical
    (prev, dst) pair to test prev-adjacency (pair-keyed equi-join against
    the persisted aggregated edge list; never a neighborhood broadcast).
    Frontier stays n_nodes*walks rows; argmin is the same min-struct
    aggregate."""
    sym = _sym_persist(edges)
    # canonical undirected pair table for prev-adjacency probes
    epair = scoped_persist(
        sym.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("pa"), F.col("dst").alias("pb")
        ).distinct()
    )
    nodes = sym.select(F.col("src").alias("origin")).distinct()
    wids = [F.lit(i).cast("long").alias("walk_id") for i in range(walks_per_node)]
    frontier = nodes.select(
        "origin", F.explode(F.array(*wids)).alias("walk_id")
    ).select(
        "origin", "walk_id", F.col("origin").alias("cur"),
        F.lit(None).cast("string").alias("prev"),
        F.col("origin").alias("path"),
    )
    for s in range(1, steps + 1):
        cand = frontier.join(sym, frontier["cur"] == sym["src"])
        lo = F.least("prev", "dst")
        hi = F.greatest("prev", "dst")
        cand = cand.join(
            epair,
            (lo == epair["pa"]) & (hi == epair["pb"]),
            "left",
        ).withColumn(
            "cls",
            F.when(F.col("prev").isNull(), F.lit(explore_rank))
            .when(F.col("dst") == F.col("prev"), F.lit(return_rank))
            .when(F.col("pa").isNotNull(), F.lit(common_rank))
            .otherwise(F.lit(explore_rank))
            .cast("long"),
        )
        h = F.md5(
            F.concat_ws(
                "#", "origin", F.col("walk_id").cast("string"),
                F.lit(str(s)), "cur", "dst",
            )
        )
        nxt = cand.groupBy("origin", "walk_id").agg(
            F.min(
                F.struct(
                    F.col("cls").alias("c"), h.alias("h"),
                    F.col("dst").alias("d"),
                )
            ).alias("top"),
            F.min("cur").alias("cur0"),
            F.min("path").alias("path"),
        )
        frontier = nxt.select(
            "origin", "walk_id", F.col("top.d").alias("cur"),
            F.col("cur0").alias("prev"),
            F.concat_ws(">", "path", "top.d").alias("path"),
        )

    def part(j):
        return F.split(F.col("origin"), r"\|")[j]

    return frontier.select(
        part(0).alias("ent"), part(1).alias("etype"), "walk_id", "path",
        F.lit(steps).cast("long").alias("n_steps"),
    )


def type_prior_resolution(typed_mentions: DataFrame) -> DataFrame:
    """Corpus-prior type disambiguation: for every normalized surface that
    was assigned MORE THAN ONE entity type across the corpus (the
    reference resolves each mention independently per sentence —
    batched_main_NER.py tags carry no cross-document consistency), pick
    the majority type as the canonical prior, with deterministic ties
    (higher count, then lexicographic type). Output: (norm_surface,
    n_types, n_total, win_type, n_win) — the per-surface prior table an
    entity-linking pass broadcasts to stabilize low-confidence mentions.

    Scale shape: ONE map-side-combining aggregate keyed on
    (norm_surface, type), then a window PARTITIONED BY surface over the
    aggregated table — partition size is the number of types a surface
    ever received (<= the 17-group vocabulary), never mention count. A
    hot surface ("washington") is one reducer key in the first aggregate;
    the window never sees raw mentions."""
    from pyspark.sql import Window

    norm = norm_surface_col(F.col("surface"))
    per_type = typed_mentions.select(
        norm.alias("norm_surface"), F.col("pred_group").alias("etype")
    ).filter(
        (F.col("etype") != "OTHER") & (F.length("norm_surface") > 0)
    ).groupBy("norm_surface", "etype").agg(
        F.count("*").cast("long").alias("n")
    )
    w = Window.partitionBy("norm_surface")
    wo = w.orderBy(F.desc("n"), F.asc("etype"))
    ranked = per_type.select(
        "norm_surface", "etype", "n",
        F.row_number().over(wo).cast("long").alias("rnk"),
        F.count("*").over(w).cast("long").alias("n_types"),
        F.sum("n").over(w).cast("long").alias("n_total"),
    )
    return ranked.filter((F.col("rnk") == 1) & (F.col("n_types") >= 2)).select(
        "norm_surface", "n_types", "n_total",
        F.col("etype").alias("win_type"), F.col("n").alias("n_win"),
    )


def cooccurrence_edges_incremental(
    typed_old: DataFrame, typed_delta: DataFrame
) -> DataFrame:
    """Incremental view maintenance of the co-occurrence edge table: the
    full-corpus edges computed as merge(edges(old), edges(delta)) instead
    of a recompute over old + delta. Correct because the edge statistics
    are ADDITIVE over url-disjoint batches: a sentence event lives in
    exactly one batch, so n_sents sums, and n_docs (distinct urls per
    edge) sums as long as no url spans batches — the caller's split
    invariant, asserted nowhere hot (ingest batches are naturally
    url-disjoint: a page is crawled into one batch).

    THE 100 TB point: the nightly ingest touches the delta only — the
    old edge table is an already-materialized aggregate (bounded by
    distinct co-occurring pairs, not corpus size), so maintenance cost is
    O(delta) + one merge shuffle over edge keys, never a corpus rescan.
    The hash gate proves merge(old, delta) == full recompute exactly
    (the DuckDB oracle recomputes from scratch)."""
    keys = ["ent_a", "type_a", "ent_b", "type_b"]
    merged = cooccurrence_edges(typed_old).unionByName(
        cooccurrence_edges(typed_delta)
    )
    return merged.groupBy(*keys).agg(
        F.sum("n_sents").cast("long").alias("n_sents"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


def bfs_distances(
    edges: DataFrame, rounds: int = 3, n_seeds: int = 3
) -> DataFrame:
    """Multi-source BFS over the co-occurrence graph: hop distance from
    the ``n_seeds`` highest-degree entities (ties: entity key asc) after
    ``rounds`` synchronous relaxations — the "how far is everything from
    the hubs" radius profile, and the building block of landmark-based
    distance estimation on KGs. Output: (ent, etype, dist) for every node
    reached within ``rounds`` hops (unreached nodes emit no row).

    All-integer; the oracle unrolls the same rounds, so distances are
    exact, not sampled.

    Scale shape: the symmetrized adjacency is persisted once and reused
    every round (the pagerank precedent); each round is one frontier-
    keyed equi-join (frontier is node-sized, adjacency edge-sized) + one
    min-aggregate — O(rounds) shuffle pairs. Seed selection ranks the
    BOUNDED node-degree aggregate (single-partition window over distinct
    nodes, the skew_report rationale). A hub node is one reducer key in
    the min-aggregate."""
    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    from pyspark.sql import Window

    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    # top-n_seeds via distributed TakeOrdered, never a node-sized
    # single-partition window (VERDICT r05 item 3)
    seeds = deg.orderBy(F.desc("deg"), F.asc("src")).limit(int(n_seeds)).select("src")
    dist = scoped_persist(
        seeds.select(F.col("src").alias("k"), F.lit(0).cast("long").alias("dist")),
        how="checkpoint",
    )
    for _ in range(rounds):
        relaxed = (
            sym.join(dist.withColumnRenamed("k", "src"), "src")
            .select(F.col("dst").alias("k"), (F.col("dist") + 1).alias("dist"))
        )
        dist = scoped_persist(
            dist.unionByName(relaxed)
            .groupBy("k")
            .agg(F.min("dist").cast("long").alias("dist")),
            how="checkpoint",
        )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return dist.select(part(0).alias("ent"), part(1).alias("etype"), "dist")


def components_incremental(
    nodes: DataFrame,
    old_labels: DataFrame,
    delta_edges: DataFrame,
    max_iter: int = 50,
) -> tuple[DataFrame, int]:
    """Incremental connected-components maintenance (IVM #2, after
    cooccurrence_edges_incremental): fold a DELTA edge batch into an
    already-resolved labeling WITHOUT rescanning the old edge set. Each
    old component is compressed to a star (member -> component label, one
    edge per non-root member — the component's certificate), the delta
    edges are unioned in, and star-CC reruns over the compressed graph.

    Exactness: min-label CC only needs SOME spanning certificate of each
    old component, and the star preserves both connectivity and the
    component minimum (the label IS the min member), so the result equals
    full CC over old_edges UNION delta_edges — proven by the hash gate,
    whose oracle recomputes the fixpoint from ALL edges.

    THE 100 TB point: nightly ER folds the day's new link batch into the
    standing entity table at O(|nodes_touched| + |delta|) edge volume —
    the certificate graph is node-sized regardless of how many raw LSH
    edges history accumulated, so maintenance cost stops growing with
    corpus age."""
    compressed = old_labels.filter(
        F.col("node_id") != F.col("component")
    ).select(
        F.col("node_id").alias("node_a"), F.col("component").alias("node_b")
    )
    edges = compressed.unionByName(delta_edges.select("node_a", "node_b"))
    return connected_components_star(nodes, edges, max_iter)


def doc_cooccurrence_edges(typed_mentions: DataFrame) -> DataFrame:
    """DOCUMENT-level entity co-occurrence edges — the coarser sibling of
    :func:`cooccurrence_edges` (sentence-level): entities mentioned
    anywhere in the same page, the granularity distant-supervision
    relation extraction and entity-relatedness features use when sentence
    locality is too strict. Returns (ent_a, type_a, ent_b, type_b,
    n_docs).

    Scale shape: sentence events collapse to the DISTINCT per-document
    entity table first (one aggregate — this bounds the pairing), then a
    url-keyed self-join pairs within pages. Pairing is quadratic in a
    page's DISTINCT typed entities (tens, page-length-bounded), never in
    mentions; an encyclopedia page with 500 entities costs 250k local
    pairs in one task — acceptable; cap per-doc distinct entities
    upstream if a corpus has adversarial outliers (documented knob, same
    rationale as the LSH bucket cap). The per-doc entity table is
    persisted once (feeds both join sides)."""
    dents = scoped_persist(
        _sentence_entities(typed_mentions).select("url", "ent", "etype").distinct()
    )
    a = dents.select(
        "url", F.col("ent").alias("ent_a"), F.col("etype").alias("type_a"),
        F.concat_ws("|", "ent", "etype").alias("ka"),
    )
    b = dents.select(
        "url", F.col("ent").alias("ent_b"), F.col("etype").alias("type_b"),
        F.concat_ws("|", "ent", "etype").alias("kb"),
    )
    pairs = a.join(b, ["url"]).filter(F.col("ka") < F.col("kb"))
    return pairs.groupBy("ent_a", "type_a", "ent_b", "type_b").agg(
        F.count("*").cast("long").alias("n_docs")
    )


def anchor_entity_aliases(anchor_stats: DataFrame, nodes: DataFrame) -> DataFrame:
    """Web-derived alias candidates for ER: anchor texts whose normalized
    surface matches a canonical entity surface — the hyperlink graph's
    free surface-form signal (anchor text is how the WEB names the target)
    joined onto the KG's entity table. Output: (norm_surface, etype,
    node_id, link_url, n_anchors, n_pages) — the review queue that
    expands an entity's alias set beyond what its own mentions show.

    Scale shape: anchor stats aggregate first (bounded by distinct
    (target, anchor) pairs), entities are the exact-canonical node table
    (bounded by distinct surfaces); the equi-join on the normalized
    surface broadcasts whichever side is dim-sized. A hot anchor
    ("click here") matches nothing after normalization vs entity
    surfaces; a hot ENTITY surface is one join key — standard agg skew."""
    al = anchor_stats.select(
        norm_surface_col(F.col("anchor_norm")).alias("norm_surface"),
        "link_url", "n_anchors", "n_pages",
    ).filter(F.length("norm_surface") > 0)
    ent = nodes.select("norm_surface", "etype", "node_id")
    return al.join(ent, "norm_surface").select(
        "norm_surface", "etype", "node_id", "link_url", "n_anchors", "n_pages"
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree-assortativity SUFFICIENT STATISTICS of the entity
    co-occurrence graph — one row of exact integers from which Newman's
    degree-correlation coefficient r (Newman 2002, PRL 89.208701) is a
    pure post-processing division: over the symmetrized directed edge
    list with x = deg(src), y = deg(dst),

        r = (m*Sxy - Sx*Sy) / sqrt((m*Sx2 - Sx^2) * (m*Sy2 - Sy^2))

    The returned columns are (m2, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
    r_num, r_den_x, r_den_y) — all BIGINT, no float in the hashed gate
    (the txt_lm_score precedent); r_num/r_den_* are the exact integer
    numerator and the two squared-denominator factors. A social/KG graph
    is typically disassortative (hubs attach to leaves, r < 0) — the
    one-number structural health check before embedding training.

    Scale shape: degrees come from one map-side-combining aggregate over
    the symmetrized ALREADY-AGGREGATED edge table (bounded by distinct
    pairs); the degree table (node-sized) is persisted once and feeds the
    two endpoint-keyed equi-joins; the final reduce is a single-row
    global aggregate (exact, associative — partial aggregation does all
    the work map-side). Nothing corpus-sized is shuffled."""
    from unsupervised_ner_spark.caching import scoped_persist

    sym = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("src"),
        F.concat_ws("|", "ent_b", "type_b").alias("dst"),
    ).unionAll(
        edges.select(
            F.concat_ws("|", "ent_b", "type_b").alias("src"),
            F.concat_ws("|", "ent_a", "type_a").alias("dst"),
        )
    )
    deg = scoped_persist(
        sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    )
    j = (
        sym.join(deg, "src")
        .withColumnRenamed("deg", "dx")
        .join(
            deg.select(F.col("src").alias("dst"), F.col("deg").alias("dy")),
            "dst",
        )
    )
    s = j.agg(
        F.count("*").cast("long").alias("m2"),
        F.sum("dx").cast("long").alias("sum_x"),
        F.sum("dy").cast("long").alias("sum_y"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sum_xy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sum_x2"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("sum_y2"),
    )
    return s.select(
        "*",
        (F.col("m2") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        .cast("long").alias("r_num"),
        (F.col("m2") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
        .cast("long").alias("r_den_x"),
        (F.col("m2") * F.col("sum_y2") - F.col("sum_y") * F.col("sum_y"))
        .cast("long").alias("r_den_y"),
    )


# Engine-defined phonetic key (soundex-FAMILY, not American Soundex — the
# vowels are deleted BEFORE run-collapsing, which merges codes a vowel
# would separate; documented as the engine's deterministic variant, both
# engines run the identical construction). Letters -> digit classes:
# BFPV=1 CGJKQSXZ=2 DT=3 L=4 MN=5 R=6; AEIOUYHW deleted (translate with a
# shorter to-string drops the tail chars in BOTH Spark and DuckDB).
PHONETIC_FROM = "BFPVCGJKQSXZDTLMNRAEIOUYHW"
PHONETIC_TO = "111122222222334556"


def phonetic_key_col(col) -> "F.Column":
    """first letter + first 3 collapsed digit codes of the rest, zero-
    padded — the classic phonetic blocking key shape, as a pure
    expression (no UDF; every primitive — translate, regexp_replace,
    substring — is RE2/Java-regex-agreement-subset and replayed by the
    DuckDB twin)."""
    u = F.upper(F.regexp_replace(col, "[^A-Za-z]", ""))
    first = F.substring(u, 1, 1)
    d = F.translate(u, PHONETIC_FROM, PHONETIC_TO)
    for digit in "123456":
        d = F.regexp_replace(d, f"{digit}{digit}+", digit)
    code_first = F.translate(first, PHONETIC_FROM, PHONETIC_TO)
    tail = F.when(
        (code_first != "") & (F.substring(d, 1, 1) == code_first),
        F.substring(d, 2, 64),
    ).otherwise(d)
    return F.concat(first, F.rpad(F.substring(tail, 1, 3), 3, "0"))


def phonetic_blocking_keys(occurrences: DataFrame) -> DataFrame:
    """Phonetic blocking-key table over the distinct normalized entity
    surfaces — the third ER candidate-generation strategy beside exact
    canonicalization and char-shingle LSH (phonetic keys catch the
    misspelling/transliteration channel the other two miss: "smith" /
    "smyth" share S530). Returns (pkey, n_surfaces, rep_surface): bucket
    sizes ARE the blocking-cost dashboard (the lsh_bucket_stats twin for
    this strategy).

    Scale shape: the corpus collapses to the distinct surface vocabulary
    first, the key is a narrow expression over it, and the stats are one
    map-side-combining aggregate on the bounded key space."""
    surf = occurrences.select("norm_surface").filter(
        F.length("norm_surface") > 0
    ).distinct()
    keyed = surf.select(
        "norm_surface", phonetic_key_col(F.col("norm_surface")).alias("pkey")
    ).filter(F.length("pkey") == 4)
    return keyed.groupBy("pkey").agg(
        F.count("*").cast("long").alias("n_surfaces"),
        F.min("norm_surface").alias("rep_surface"),
    )


def phonetic_pairs(
    occurrences: DataFrame, max_lev: int = 2, max_bucket: int = 100
) -> DataFrame:
    """Phonetic ER candidate PAIRS: surfaces sharing a (capped) phonetic
    key, verified with exact Levenshtein distance <= ``max_lev`` — the
    generate-then-verify shape of every blocking strategy here (LSH bands
    -> Jaccard verify, simhash blocks -> Hamming verify, phonetic keys ->
    edit-distance verify). Catches smith/smyth-style variants that exact
    canonicalization splits and that shingle-LSH only finds at low
    thresholds. Both engines run the same classic Levenshtein
    (F.levenshtein / DuckDB levenshtein).

    Scale shape: keys over the distinct surface vocabulary (persisted
    once — feeds the cap aggregate and both self-join sides), hot keys
    capped (a giant phonetic bucket like 'S530' on a name-heavy corpus
    would go quadratic), in-bucket self-join, expression-side verify."""
    from unsupervised_ner_spark.caching import scoped_persist

    keyed = scoped_persist(
        occurrences.select("norm_surface")
        .filter(F.length("norm_surface") > 0)
        .distinct()
        .select(
            "norm_surface",
            phonetic_key_col(F.col("norm_surface")).alias("pkey"),
        )
        .filter(F.length("pkey") == 4)
    )
    ok = keyed.groupBy("pkey").agg(F.count("*").alias("n")).filter(
        F.col("n") <= max_bucket
    ).select("pkey")
    small = keyed.join(ok, "pkey")
    a = small.select("pkey", F.col("norm_surface").alias("surf_a"))
    b = small.select("pkey", F.col("norm_surface").alias("surf_b"))
    return (
        a.join(b, "pkey")
        .filter(F.col("surf_a") < F.col("surf_b"))
        .withColumn(
            "lev", F.levenshtein("surf_a", "surf_b").cast("long")
        )
        .filter(F.col("lev") <= max_lev)
        .select("pkey", "surf_a", "surf_b", "lev")
    )


def wl_colors(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Weisfeiler-Lehman refinement colors over the entity co-occurrence
    graph — the structural-role signature (1-WL / color refinement,
    Weisfeiler & Lehman 1968; the node feature behind WL graph kernels
    and the expressiveness ceiling of message-passing GNNs). Every node
    starts with color '0'; each round rehashes (own color | sorted
    multiset of neighbor colors) through md5, so after round 1 the color
    encodes the degree, after round 2 the degree sequence of the
    neighborhood, and so on. Two nodes with different colors are
    provably non-isomorphic in their r-hop structure — the cheap
    entity-role clustering a KG dashboard wants.

    Returns (ent, etype, wl_color) with wl_color an 8-hex-char class id.

    Scale shape: the symmetrized adjacency is persisted once and reused
    every round; each round is ONE node-keyed shuffle join (neighbor
    color lookup) + ONE map-side-combining aggregate whose value is a
    sorted concat of bounded color strings — a hot hub aggregates one
    row. Rounds are a constant (the oracle unrolls them), so the whole
    refinement is O(rounds) bounded-table joins, never corpus-sized."""
    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("k"),
            F.concat_ws("|", "ent_b", "type_b").alias("nb"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("k"),
                F.concat_ws("|", "ent_a", "type_a").alias("nb"),
            )
        )
    )
    colors = sym.select("k").distinct().withColumn("color", F.lit("0"))
    for _ in range(int(rounds)):
        nbc = sym.join(
            colors.select(
                F.col("k").alias("nb"), F.col("color").alias("nb_color")
            ),
            "nb",
        )
        sig = nbc.groupBy("k").agg(
            F.concat_ws(",", F.array_sort(F.collect_list("nb_color"))).alias(
                "sig"
            )
        )
        colors = colors.join(sig, "k").select(
            "k",
            F.substring(
                F.md5(F.concat_ws("|", "color", "sig")), 1, 8
            ).alias("color"),
        )
    return colors.select(
        F.split("k", r"\|")[0].alias("ent"),
        F.split("k", r"\|")[1].alias("etype"),
        F.col("color").alias("wl_color"),
    )


def frequent_itemsets3(typed_mentions: DataFrame, minsup: int = 2) -> DataFrame:
    """Frequent entity 3-itemsets over per-sentence entity events — the
    Apriori level-3 pass (Agrawal & Srikant VLDB'94): entity triples
    co-occurring in >= ``minsup`` sentences, the n-ary extension of the
    pairwise co-occurrence graph (a frequent triple is a candidate
    n-ary relation / event frame the pair graph cannot represent).

    Pipeline: per-sentence pairs -> pair support >= minsup (the Apriori
    candidate prune — an infrequent pair can never extend to a frequent
    triple) -> extend each surviving pair occurrence with a third
    same-sentence entity kb < kc -> prune extensions whose (kb, kc)
    sub-pair is infrequent -> count sentences per triple -> >= minsup.
    Both prunes are pure optimizations (a triple with support >= minsup
    forces every sub-pair frequent), so the output is the exact Apriori
    answer; the oracle replays the identical chain.

    Scale shape: the sentence-entity event table is persisted once and
    feeds the pair join (twice) + the extension join; pair support is a
    bounded aggregate; every join is (url, sent_idx)-co-partitioned
    (sentence-local fan-out, bounded by entities-per-sentence cubed at
    worst, and the frequent-pair prunes cut it before the explosion) or
    keyed on the bounded frequent-pair table. Returns
    (ent_a..type_c ordered by the "ent|etype" key, support)."""
    ents = _sentence_entities(typed_mentions)
    e = ents.select(
        "url", "sent_idx", F.concat_ws("|", "ent", "etype").alias("k")
    )
    p = (
        e.select("url", "sent_idx", F.col("k").alias("ka"))
        .join(e.select("url", "sent_idx", F.col("k").alias("kb")),
              ["url", "sent_idx"])
        .filter(F.col("ka") < F.col("kb"))
    )
    p = scoped_persist(p)
    fp = scoped_persist(
        p.groupBy("ka", "kb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= int(minsup))
        .select("ka", "kb")
    )
    pf = p.join(fp, ["ka", "kb"])
    cand = pf.join(
        e.select("url", "sent_idx", F.col("k").alias("kc")),
        ["url", "sent_idx"],
    ).filter(F.col("kb") < F.col("kc"))
    cand = cand.join(
        fp.select(F.col("ka").alias("kb"), F.col("kb").alias("kc")),
        ["kb", "kc"],
    )
    tri = (
        cand.groupBy("ka", "kb", "kc")
        .agg(F.count("*").cast("long").alias("support"))
        .filter(F.col("support") >= int(minsup))
    )

    def part(key, j):
        return F.split(key, r"\|")[j]

    return tri.select(
        part("ka", 0).alias("ent_a"), part("ka", 1).alias("type_a"),
        part("kb", 0).alias("ent_b"), part("kb", 1).alias("type_b"),
        part("kc", 0).alias("ent_c"), part("kc", 1).alias("type_c"),
        "support",
    )


def hits(support: DataFrame, rounds: int = 2, scale: int = 1_000_000) -> DataFrame:
    """HITS hubs-and-authorities over the DIRECTED canonical triple graph
    (Kleinberg 1999) — the KG curation ranking the undirected PageRank
    cannot give: authorities are the entities many subjects point AT
    (the things facts are about), hubs are the subjects that point at
    many good authorities (the pages'/entities' fact emitters). The
    reference's bootstrap loop (reference `cython_nested_dict.pyx` /
    bootstrap aggregation, SURVEY §2 A7-A9) ranks harvested entities by
    raw count; HITS is the graph-aware refinement.

    Integer-exact power iteration (the er.pagerank precedent): every
    round computes raw sums in BIGINT and renormalizes by the CURRENT
    MAX via ``raw * scale div max`` — max and sum are order-free, so
    Spark and the unrolled-CTE DuckDB oracle agree bit-for-bit (no L2
    norm, no float). ``rounds`` fixed synchronous rounds — the
    hash-gateable prefix, the kcore/pagerank precedent.

    Scale shape: the distinct edge list is persisted once and drives
    2*rounds bounded equi-join + aggregate pairs (each keyed on a node
    id — hub nodes are single reducer keys after partial aggregation);
    the per-round max is a 1-row aggregate broadcast back (no driver
    action, no collect). Overflow envelope: raw <= n_nodes * scale, so
    raw * scale <= n * 1e12 — safe in BIGINT below ~9e6 nodes; at larger
    graphs drop scale to 1e5 (documented, not silently clamped).

    Lineage: edges and each half-step result are CHECKPOINTED, not
    SQL-cached. Each step's relation appears twice in the next plan (the
    1-row max aggregate + the renormalization map), so with plain persist
    the LOGICAL plan doubles per half-step — Catalyst re-analyzes an
    exponentially growing tree even though the physical side hits the
    cache (measured: 54 s -> ~8 s at sf0.001 on a 69-edge graph; the cost
    was driver-side planning, not execution). LogicalRDD truncation keeps
    every step's plan O(1)-deep — the standard iterative-algorithm
    tradeoff already documented at caching.scoped_persist."""
    edges = scoped_persist(
        support.select(
            F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
        ).distinct(),
        how="checkpoint",
    )
    nodes = scoped_persist(
        edges.select(F.col("src").alias("k"))
        .unionAll(edges.select(F.col("dst").alias("k")))
        .distinct()
    )
    h = nodes.select("k", F.lit(int(scale)).cast("long").alias("v"))
    a = None

    def _step(vec: DataFrame, key_in: str, key_out: str) -> DataFrame:
        """One half-round: sum vec over edges into key_out, renormalize.

        Round-6 (guide §2.4): the former per-half-step ``nodes`` LEFT
        JOIN that zero-filled missing keys is gone — a zero-valued node
        contributes nothing to any neighbour sum and HITS has no
        additive/teleport term (unlike pagerank/katz, where the base
        term forces the zero-fill to stay), so propagating only the
        non-zero support is value-identical; max(raw) over the support
        equals max over the zero-filled table (raw sums are
        non-negative). Missing keys are zero-filled ONCE at the output
        join instead. Removes ``2*rounds`` node-keyed joins from the
        loop.

        ``raw`` feeds TWO consumers — the 1-row max aggregate and the
        renormalization map — so it is persisted (node-sized integer
        table; the webtext host-HITS precedent): unpersisted, the
        join+groupBy subtree executes twice per half-step, once inside
        the broadcast build and once for the output pass."""
        raw = scoped_persist(
            edges.join(vec.withColumnRenamed("k", key_in), key_in)
            .groupBy(key_out)
            .agg(F.sum("v").cast("long").alias("raw"))
            .withColumnRenamed(key_out, "k")
        )
        mx = raw.agg(F.greatest(F.max("raw"), F.lit(1)).cast("long").alias("mx"))
        return scoped_persist(
            raw.crossJoin(F.broadcast(mx)).select(
                "k",
                F.expr(f"CAST((raw * CAST({int(scale)} AS BIGINT)) div mx AS BIGINT)")
                .alias("v"),
            ),
            how="checkpoint",
        )

    for _ in range(int(rounds)):
        a = _step(h, "src", "dst")   # authority <- sum of hub over in-edges
        h = _step(a, "dst", "src")   # hub <- sum of authority over out-edges
    out = (
        nodes.join(h.withColumnRenamed("v", "hub_scaled"), "k", "left")
        .join(a.withColumnRenamed("v", "auth_scaled"), "k", "left")
    )
    return out.select(
        F.col("k").alias("node_id"),
        F.coalesce("hub_scaled", F.lit(0)).cast("long").alias("hub_scaled"),
        F.coalesce("auth_scaled", F.lit(0)).cast("long").alias("auth_scaled"),
    )


def landmark_centrality(
    edges: DataFrame, rounds: int = 3, n_seeds: int = 3, scale: int = 1_000_000
) -> DataFrame:
    """Per-landmark closeness profile over the co-occurrence graph — the
    landmark leg of landmark-based distance estimation (Potamias et al.
    2009): for each of the ``n_seeds`` top-degree entities, run its OWN
    bounded BFS (unlike er.bfs_distances, which min-merges all seeds into
    one frontier) and aggregate the classic centrality summaries:
    ``n_reached`` (nodes within ``rounds`` hops), ``harmonic_scaled``
    (sum of scale div dist — harmonic closeness, defined even on
    disconnected graphs), and ``ecc_bounded`` (max observed hop — the
    eccentricity lower bound). The dashboard a KG serving layer uses to
    pick landmarks: a good landmark reaches much of the graph in few
    hops.

    All-integer (scale div dist), fixed rounds — oracle unrolls the same
    relaxations, distances exact.

    Scale shape: identical per-round join/min-aggregate structure as
    er.bfs_distances with the frontier keyed by (seed, node) — n_seeds
    is a small constant, so state is at most n_seeds * |V| rows; the
    symmetrized adjacency is persisted once and reused every round. The
    final per-seed aggregate is n_seeds rows."""
    from pyspark.sql import Window

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    # top-n_seeds via TakeOrdered; the rank window runs over the <= n_seeds
    # survivors only (VERDICT r05 item 3)
    w = Window.orderBy(F.desc("deg"), F.asc("src"))
    seeds = deg.orderBy(F.desc("deg"), F.asc("src")).limit(int(n_seeds)).select(
        "src", F.row_number().over(w).cast("long").alias("seed_rank")
    )
    dist = scoped_persist(
        seeds.select(
            F.col("src").alias("seed"),
            F.col("src").alias("k"),
            F.lit(0).cast("long").alias("dist"),
        ),
        how="checkpoint",
    )
    for _ in range(int(rounds)):
        relaxed = (
            sym.join(dist.withColumnRenamed("k", "src"), "src")
            .select("seed", F.col("dst").alias("k"), (F.col("dist") + 1).alias("dist"))
        )
        # checkpoint, not SQL cache: dist appears twice per round (relax
        # join + min-merge union), so plain persist doubles the LOGICAL
        # plan per round (the er.hits pathology)
        dist = scoped_persist(
            dist.unionByName(relaxed)
            .groupBy("seed", "k")
            .agg(F.min("dist").cast("long").alias("dist")),
            how="checkpoint",
        )
    prof = (
        dist.filter(F.col("dist") > 0)
        .groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum(F.expr(f"CAST({int(scale)} AS BIGINT) div dist"))
            .cast("long").alias("harmonic_scaled"),
            F.max("dist").cast("long").alias("ecc_bounded"),
        )
    )
    out = prof.join(seeds.withColumnRenamed("src", "seed"), "seed")

    def part(j):
        return F.split(F.col("seed"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "seed_rank", "n_reached", "harmonic_scaled", "ecc_bounded",
    )


def modularity(
    edges: DataFrame, iterations: int = 4, scale: int = 1_000_000
) -> DataFrame:
    """Per-community Newman modularity contribution over the LPA
    communities — the quality score that turns kg_communities from an
    assignment into an evaluated clustering (Newman & Girvan 2004):
    ``q_ppm = scale*in_c div m - scale*deg_c^2 div (4*m^2)`` per
    community c, where in_c counts intra-community undirected edges,
    deg_c sums member degrees, and m is the total undirected edge count.
    Positive q_ppm = denser than the degree-preserving random graph; the
    corpus-level Q is the column sum. All-integer (the exact
    (2*in_c)//(2m) == in_c//m simplification is applied identically in
    the DuckDB twin), so the score is bit-exact across engines.

    Returns (community, n_nodes, in_edges, deg_sum, q_ppm).

    Scale shape: the LPA label table is persisted once and feeds three
    bounded consumers (both endpoint joins of the edge table + the
    member/degree aggregate); m rides a broadcast 1-row aggregate. The
    endpoint joins are node-keyed equi-joins of the aggregated edge
    table — hot entities are single join keys, the pagerank exposure.
    Overflow envelope: scale*deg_sum^2 <= scale*4m^2, BIGINT-safe below
    ~1.5e6 edges at scale=1e6; at larger graphs drop scale (documented,
    the hits posture)."""
    sym, labels = _lpa_labels(edges, iterations)
    labels = scoped_persist(labels)
    m = edges.agg(F.count("*").cast("long").alias("m"))
    ek = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("ka"),
        F.concat_ws("|", "ent_b", "type_b").alias("kb"),
    )
    intra = (
        ek.join(labels.select(F.col("k").alias("ka"), F.col("lbl").alias("la")), "ka")
        .join(labels.select(F.col("k").alias("kb"), F.col("lbl").alias("lb")), "kb")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count("*").cast("long").alias("in_edges"))
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    grp = (
        labels.join(deg.withColumnRenamed("src", "k"), "k")
        .groupBy("lbl")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.sum("deg").cast("long").alias("deg_sum"),
        )
    )
    out = (
        grp.join(intra, "lbl", "left")
        .withColumn("in_edges", F.coalesce("in_edges", F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(m))
    )
    return out.select(
        F.col("lbl").alias("community"), "n_nodes", "in_edges", "deg_sum",
        F.expr(
            f"CAST((CAST({int(scale)} AS BIGINT) * in_edges) div m"
            f" - (CAST({int(scale)} AS BIGINT) * deg_sum * deg_sum)"
            " div (4 * m * m) AS BIGINT)"
        ).alias("q_ppm"),
    )


def pair_features(
    surfaces: DataFrame, max_bucket: int = 100, scale: int = 1_000_000
) -> DataFrame:
    """ER pairwise FEATURE table over the phonetic candidate channel —
    the Magellan-style (Konda et al. VLDB'16) training input an ER
    match classifier consumes: instead of phonetic_pairs' hard
    Levenshtein cutoff, every in-bucket candidate pair is emitted with
    its similarity feature vector and the THRESHOLD DECISION is left to
    the downstream model. Features (all exact integers): Levenshtein,
    surface lengths, distinct whitespace-token counts and overlap, and
    char-3-gram shingle Jaccard as (intersection, union, scaled ppm
    ratio) sufficient statistics.

    Scale shape: identical blocking posture as phonetic_pairs (distinct
    surface vocabulary persisted once — cap aggregate + both self-join
    sides; hot phonetic buckets capped); the feature expressions are
    pure codegen over the pair rows (shingle arrays are bounded by
    surface length, never corpus-sized)."""
    keyed = scoped_persist(
        surfaces.select("norm_surface")
        .filter(F.length("norm_surface") > 0)
        .distinct()
        .select(
            "norm_surface",
            phonetic_key_col(F.col("norm_surface")).alias("pkey"),
        )
        .filter(F.length("pkey") == 4)
    )
    ok = keyed.groupBy("pkey").agg(F.count("*").alias("n")).filter(
        F.col("n") <= max_bucket
    ).select("pkey")
    small = keyed.join(ok, "pkey")
    a = small.select("pkey", F.col("norm_surface").alias("surf_a"))
    b = small.select("pkey", F.col("norm_surface").alias("surf_b"))
    p = (
        a.join(b, "pkey")
        .filter(F.col("surf_a") < F.col("surf_b"))
        .withColumn("sha", _char_shingles(F.col("surf_a")))
        .withColumn("shb", _char_shingles(F.col("surf_b")))
        .withColumn(
            "sh_inter",
            F.size(F.array_intersect("sha", "shb")).cast("long"),
        )
    )

    def toks(c):
        return F.array_distinct(F.split(F.col(c), " "))

    p = p.withColumn(
        "sh_union",
        (F.size("sha") + F.size("shb") - F.col("sh_inter")).cast("long"),
    )
    return p.select(
        "pkey", "surf_a", "surf_b",
        F.levenshtein("surf_a", "surf_b").cast("long").alias("lev"),
        F.length("surf_a").cast("long").alias("len_a"),
        F.length("surf_b").cast("long").alias("len_b"),
        F.size(toks("surf_a")).cast("long").alias("n_tok_a"),
        F.size(toks("surf_b")).cast("long").alias("n_tok_b"),
        F.size(F.array_intersect(toks("surf_a"), toks("surf_b")))
        .cast("long").alias("tok_overlap"),
        "sh_inter", "sh_union",
        F.expr(
            f"CAST((CAST({int(scale)} AS BIGINT) * sh_inter) div sh_union"
            " AS BIGINT)"
        ).alias("sh_jaccard_ppm"),
    )


def _landmark_forward(
    edges: DataFrame, rounds: int, n_seeds: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Brandes forward sweep shared by landmark_path_counts and
    landmark_betweenness: symmetrized adjacency, the top-degree seeds,
    and the full (seed, k, dist, sigma) state after ``rounds``
    level-synchronous rounds. Every intermediate is CHECKPOINTED (the
    er.hits lineage rule: state feeds filter + anti-join + union — three
    appearances per round)."""
    from pyspark.sql import Window

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    # top-n_seeds via TakeOrdered (VERDICT r05 item 3); rank window over
    # the <= n_seeds survivors only
    w = Window.orderBy(F.desc("deg"), F.asc("src"))
    seeds = scoped_persist(
        deg.orderBy(F.desc("deg"), F.asc("src")).limit(int(n_seeds)).select(
            "src", F.row_number().over(w).cast("long").alias("seed_rank")
        ),
        how="checkpoint",
    )
    state = scoped_persist(
        seeds.select(
            F.col("src").alias("seed"),
            F.col("src").alias("k"),
            F.lit(0).cast("long").alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        ),
        how="checkpoint",
    )
    for i in range(1, int(rounds) + 1):
        frontier = state.filter(F.col("dist") == i - 1)
        relaxed = (
            sym.join(
                frontier.select(F.col("k").alias("src"), "seed", "sigma"),
                "src",
            )
            .groupBy("seed", F.col("dst").alias("k"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        new = relaxed.join(
            state.select("seed", "k"), ["seed", "k"], "left_anti"
        ).select("seed", "k", F.lit(i).cast("long").alias("dist"), "sigma")
        state = scoped_persist(state.unionByName(new), how="checkpoint")
    return sym, seeds, state


def landmark_path_counts(
    edges: DataFrame, rounds: int = 3, n_seeds: int = 3
) -> DataFrame:
    """Shortest-path COUNTS from the top-degree landmarks — the sigma
    table of Brandes' betweenness algorithm (Brandes 2001, the forward
    sweep): for each landmark and every node within ``rounds`` hops, the
    hop distance AND the exact number of distinct shortest paths. Path
    redundancy is the KG-robustness signal distance alone hides (a node
    at distance 2 via 40 paths is structurally closer than one at
    distance 2 via a single bridge).

    Exact integers by level-synchronous construction: all shortest paths
    to a node at BFS level i enter from level i-1, so accumulating sigma
    only from the CURRENT frontier (dist = i-1) into NOT-YET-SEEN nodes
    is exactly Brandes' forward pass; the oracle unrolls the same rounds
    with NOT EXISTS anti-joins.

    Scale shape: the bfs_distances posture (adjacency persisted once,
    one frontier-keyed equi-join + one aggregate per round) plus one
    node-keyed anti-join per round against the bounded visited table.
    Sigma growth is bounded by products of frontier degrees over
    ``rounds`` hops — BIGINT-safe for any realistic degree at r=3."""
    sym, seeds, state = _landmark_forward(edges, rounds, n_seeds)
    out = state.join(seeds.withColumnRenamed("src", "seed"), "seed")

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        "seed_rank", part(0).alias("ent"), part(1).alias("etype"),
        "dist", "sigma",
    )


def motif_census(tri: DataFrame) -> DataFrame:
    """Typed triangle-motif census — the heterogeneous-graphlet rollup of
    the triangle table (the schema-level structure dashboard: which
    entity-TYPE triples actually close triangles, e.g. DISEASE-DRUG-GENE
    vs three LOCATIONs): triangles keyed by their SORTED type multiset
    (order-free, so the census is independent of corner orientation),
    with distinct-corner-entity counts as the diversity signal.

    Scale shape: one map (array_sort over 3 bounded literals) + one
    map-side-combining aggregate keyed by the motif string — output
    bounded by |types|^3 / 6."""
    motif = F.array_join(
        F.array_sort(F.array("type_a", "type_b", "type_c")), "|"
    )
    return tri.select(
        motif.alias("motif"), "ent_a", "ent_b", "ent_c"
    ).groupBy("motif").agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.countDistinct("ent_a").cast("long").alias("n_corner_a"),
        F.countDistinct("ent_b").cast("long").alias("n_corner_b"),
        F.countDistinct("ent_c").cast("long").alias("n_corner_c"),
    )


def ego_subgraph(edges: DataFrame, hops: int = 2) -> DataFrame:
    """K-hop ego-network export around the top-PageRank entity — the KG
    serving primitive ("show me everything near the most central
    entity"): the induced subgraph whose endpoints BOTH lie within
    ``hops`` of the root, each edge annotated with both endpoint
    distances and the root. Root selection composes the integer
    er.pagerank (rank desc, ent asc, etype asc — a total order), so the
    export is bit-reproducible.

    Scale shape: the edge table is persisted once (feeds pagerank's
    symmetrization AND the induction joins); the BFS is the
    bfs_distances posture (``hops`` join+min-aggregate rounds from a
    1-row frontier); induction is two node-keyed equi-joins of the edge
    table against the hop-bounded reach set (at 100 TB the reach set of
    one root broadcasts). The root pick is a 1-row window over the
    node-bounded rank table.

    Lineage: edges / root / per-hop dist are CHECKPOINTED (LogicalRDD
    truncation, the er.hits fix): dist appears TWICE per hop (the relax
    join and the min-merge union) and twice again in the induction, and
    root embeds the whole pagerank loop — with plain persist the LOGICAL
    plan of the final query held ~8 copies of the full upstream lineage
    and Catalyst planning dominated runtime (30 s warm median at sf0.1
    before the fix)."""
    from pyspark.sql import Window

    edges = scoped_persist(edges, how="checkpoint")
    pr = pagerank(edges)
    # root argmax via TakeOrdered-1 (VERDICT r05 item 3), never a
    # node-sized single-partition window
    root = (
        pr.orderBy(F.desc("rank_scaled"), F.asc("ent"), F.asc("etype"))
        .limit(1)
        .select(
            F.concat_ws("|", "ent", "etype").alias("k"),
            F.col("ent").alias("root_ent"),
            F.col("etype").alias("root_type"),
        )
    )
    root = scoped_persist(root, how="checkpoint")
    sym = _sym_persist(edges)
    dist = scoped_persist(
        root.select("k", F.lit(0).cast("long").alias("dist")),
        how="checkpoint",
    )
    for _ in range(int(hops)):
        relaxed = (
            sym.join(dist.withColumnRenamed("k", "src"), "src")
            .select(F.col("dst").alias("k"), (F.col("dist") + 1).alias("dist"))
        )
        dist = scoped_persist(
            dist.unionByName(relaxed)
            .groupBy("k")
            .agg(F.min("dist").cast("long").alias("dist")),
            how="checkpoint",
        )
    ek = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("ka"),
        F.concat_ws("|", "ent_b", "type_b").alias("kb"),
        "n_sents", "n_docs",
    )
    out = (
        ek.join(
            dist.select(F.col("k").alias("ka"), F.col("dist").alias("dist_a")),
            "ka",
        )
        .join(
            dist.select(F.col("k").alias("kb"), F.col("dist").alias("dist_b")),
            "kb",
        )
        .crossJoin(F.broadcast(root.select("root_ent", "root_type")))
    )

    def part(key, j):
        return F.split(F.col(key), r"\|")[j]

    return out.select(
        "root_ent", "root_type",
        part("ka", 0).alias("ent_a"), part("ka", 1).alias("type_a"), "dist_a",
        part("kb", 0).alias("ent_b"), part("kb", 1).alias("type_b"), "dist_b",
        "n_sents", "n_docs",
    )


def local_bridges(edges: DataFrame) -> DataFrame:
    """Local-bridge detection over the entity co-occurrence graph — the
    Granovetter "weak ties" analysis (Granovetter 1973; Easley-Kleinberg
    ch. 3): an edge is a LOCAL BRIDGE when its endpoints share no
    neighbor (it sits in zero triangles), i.e. it is the only short
    route between its two neighborhoods. Bridges are where a KG is
    fragile (one wrong extraction merges two unrelated discourse
    communities) and where curators look first.

    Returns every edge with its triangle support and the bridge flag:
    (ent_a, type_a, ent_b, type_b, n_sents, n_docs, n_common,
    is_bridge).

    Scale shape: the per-edge triangle count is the ktruss support join
    (edge table persisted once, two neighbor expansions meeting on the
    shared witness z — hub edges expand by their degree, the standard
    wedge exposure AQE splits) followed by one LEFT join back; edges in
    no triangle fall out of the wedge join and re-enter with count 0 —
    the bridge set itself never shuffles twice."""
    ek = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("ka"),
            F.concat_ws("|", "ent_b", "type_b").alias("kb"),
            "n_sents", "n_docs",
        )
    )
    sym = ek.select(F.col("ka").alias("src"), F.col("kb").alias("dst")).unionAll(
        ek.select(F.col("kb").alias("src"), F.col("ka").alias("dst"))
    )
    tri = (
        ek.select("ka", "kb")
        .join(sym.select(F.col("src").alias("ka"), F.col("dst").alias("z")), "ka")
        .join(sym.select(F.col("src").alias("kb"), F.col("dst").alias("z")),
              ["kb", "z"])
        .groupBy("ka", "kb")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    out = ek.join(tri, ["ka", "kb"], "left").withColumn(
        "n_common", F.coalesce("n_common", F.lit(0)).cast("long")
    )

    def part(key, j):
        return F.split(F.col(key), r"\|")[j]

    return out.select(
        part("ka", 0).alias("ent_a"), part("ka", 1).alias("type_a"),
        part("kb", 0).alias("ent_b"), part("kb", 1).alias("type_b"),
        "n_sents", "n_docs", "n_common",
        (F.col("n_common") == 0).cast("long").alias("is_bridge"),
    )


def sameas_ntriples(aliases: DataFrame) -> DataFrame:
    """owl:sameAs export of the ER resolution — the RDF interchange
    deliverable beside er.to_ntriples (reference parity: the engine's
    ER decisions become consumable linked data): every alias surface
    form links its surface-node URI to its canonical entity URI via
    owl:sameAs, so a downstream triplestore can collapse mentions the
    same way the engine did. Input: er.entity_aliases output.

    Scale shape: pure map over the alias table (md5 + concat in
    codegen); no exchange, no join."""
    surface_node = F.md5(F.concat_ws("|", "alias", "etype"))
    line = F.concat(
        F.lit("<urn:kg:s:"), surface_node,
        F.lit("> <http://www.w3.org/2002/07/owl#sameAs> <urn:kg:e:"),
        F.col("entity_id"), F.lit("> ."),
    )
    return aliases.select(
        line.alias("ntriple"),
        "entity_id", "etype", "alias",
        F.col("rank").cast("long").alias("rank"),
    )


def landmark_betweenness(
    edges: DataFrame, rounds: int = 3, n_seeds: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Landmark-sampled betweenness centrality — Brandes 2001 complete:
    the forward sigma sweep (shared with landmark_path_counts via
    _landmark_forward) followed by the BACKWARD dependency accumulation
    ``delta(v) = sum over successors w of sigma_v * (scale + delta_w)
    div sigma_w`` processed level-by-level from the BFS horizon down to
    the sources. Exact betweenness needs all-pairs; the standard
    approximation (Brandes & Pich 2007) runs the accumulation from a
    landmark sample — here the same top-degree seeds as the other
    landmark queries — and sums the per-source dependencies. ``delta``
    is ppm-scaled integer arithmetic: every term is an exact long
    ``mul-then-div`` and the per-node sum is order-free, so engine and
    oracle agree bit-for-bit (truncation loses < 1 ppm per term, the
    documented estimator semantics — not a float in the gate).

    In an unweighted graph every adjacency edge between consecutive BFS
    levels (dist_w = dist_v + 1, same seed) is a shortest-path-DAG edge,
    so the successor join is one equi-join of the level-d state against
    the finalized level-(d+1) deltas per round — no DAG materialization.
    Sources (dist=0) are excluded from the output (a source never lies
    strictly between a pair rooted at itself).

    Scale shape: O(rounds) join+aggregate pairs over the bounded reach
    set, same posture as the forward sweep; per-level delta tables are
    CHECKPOINTED (each feeds the next level AND the final union — the
    er.hits lineage rule)."""
    sym, seeds, state = _landmark_forward(edges, rounds, n_seeds)
    # horizon level: no successors inside the horizon -> delta 0 (final)
    acc = scoped_persist(
        state.filter(F.col("dist") == int(rounds)).select(
            "seed", "k", "dist", "sigma",
            F.lit(0).cast("long").alias("delta"),
        ),
        how="checkpoint",
    )
    for d in range(int(rounds) - 1, -1, -1):
        w_lvl = acc.filter(F.col("dist") == d + 1).select(
            F.col("k").alias("dst"), F.col("seed").alias("w_seed"),
            F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
        )
        v_lvl = state.filter(F.col("dist") == d)
        contrib = (
            sym.join(v_lvl.withColumnRenamed("k", "src"), "src")
            .join(w_lvl, ["dst"])
            .filter(F.col("seed") == F.col("w_seed"))
            .groupBy("seed", F.col("src").alias("k"))
            .agg(
                F.sum(
                    F.expr(
                        f"sigma * (CAST({int(scale)} AS BIGINT) + delta_w)"
                        " div sigma_w"
                    )
                ).cast("long").alias("delta")
            )
        )
        lvl = (
            v_lvl.join(contrib, ["seed", "k"], "left")
            .select(
                "seed", "k", "dist", "sigma",
                F.coalesce("delta", F.lit(0)).cast("long").alias("delta"),
            )
        )
        acc = scoped_persist(acc.unionByName(lvl), how="checkpoint")

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return (
        acc.filter(F.col("dist") > 0)
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_landmarks"),
            F.sum("delta").cast("long").alias("bc_scaled"),
        )
        .select(
            part(0).alias("ent"), part(1).alias("etype"),
            "n_landmarks", "bc_scaled",
        )
    )


def sorted_neighborhood_pairs(
    occurrences: DataFrame, window: int = 3, max_lev: int = 2
) -> DataFrame:
    """Sorted-neighborhood ER blocking (Hernández & Stolfo 1995) — the
    third classic blocking family beside LSH bands and phonetic keys:
    sort the distinct surface vocabulary lexicographically and pair
    every surface with its next ``window`` neighbors in the sorted
    order, then verify with exact Levenshtein <= ``max_lev``. Catches
    shared-prefix variants ("aspirin"/"aspirine") that phonetic keys
    merge only when the edit is vowel-like and LSH only at low
    thresholds. Output: (surf_a, surf_b, gap, lev) per verified pair,
    surf_a sorted before surf_b, gap = rank distance (1..window).

    Scale shape: the global lexicographic rank is the budget_select
    TWO-LEVEL banded decomposition — per-band (first-character) window
    + exclusive prefix over the bounded band-total table — never a
    corpus-sized single-partition sort; first-character bands are
    contiguous under lexicographic order, so banded rank == the global
    row_number the oracle computes (the budget_select equivalence
    precedent, unit-tested). Pairing is ONE equi-join of the ranked
    table against itself shifted by an exploded 1..window offset
    (output ~ window x |vocab|, never quadratic); the ranked vocabulary
    is persisted once feeding both join sides."""
    from pyspark.sql import Window

    from unsupervised_ner_spark.caching import scoped_persist

    keys = (
        occurrences.select("norm_surface")
        .filter(F.length("norm_surface") > 0)
        .distinct()
        .withColumn("band", F.substring("norm_surface", 1, 1))
    )
    keys = scoped_persist(keys)
    bw = Window.partitionBy("band").orderBy(F.asc("norm_surface"))
    in_band = keys.withColumn(
        "band_rank", F.row_number().over(bw).cast("long")
    )
    totals = keys.groupBy("band").agg(F.count("*").cast("long").alias("n"))
    # exclusive prefix over the band-total table: bounded by the first-
    # character alphabet (<= a few dozen rows), the documented
    # single-partition window over a BOUNDED table
    tw = Window.orderBy(F.asc("band")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "band",
        F.coalesce(F.sum("n").over(tw), F.lit(0)).cast("long").alias("off"),
    )
    ranked = scoped_persist(
        in_band.join(F.broadcast(offsets), "band").select(
            "norm_surface",
            (F.col("off") + F.col("band_rank") - 1).cast("long").alias("rnk"),
        )
    )
    a = ranked.select(
        F.col("norm_surface").alias("surf_a"), F.col("rnk").alias("rnk_a")
    ).withColumn(
        "gap", F.explode(F.array(*[F.lit(i) for i in range(1, int(window) + 1)]))
    ).withColumn("rnk_b", (F.col("rnk_a") + F.col("gap")).cast("long"))
    b = ranked.select(
        F.col("norm_surface").alias("surf_b"), F.col("rnk").alias("rnk_b")
    )
    return (
        a.join(b, "rnk_b")
        .withColumn("lev", F.levenshtein("surf_a", "surf_b").cast("long"))
        .filter(F.col("lev") <= int(max_lev))
        .select("surf_a", "surf_b", F.col("gap").cast("long").alias("gap"), "lev")
    )


def anf_registers(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Approximate neighborhood function — ANF (Palmer et al. KDD'02) in
    its HyperBall form (Boldi & Vigna WWW'11): for every node and every
    radius r in 0..``rounds``, a HyperLogLog sketch of the ball B_r(v)
    (the set of nodes within r hops), computed by iterating element-wise
    register MAX-merge of neighbor sketches. |B_r(v)| over r is the
    per-node neighborhood function — the primitive behind distributed
    effective-diameter / centrality estimation at sizes where exact BFS
    from every node is quadratic and hopeless; HyperBall's insight is
    that the ENTIRE per-round state is (nodes x registers) regardless of
    graph size, and a round is one edge-keyed equi-join + one max
    aggregate — the bfs_distances posture with registers instead of a
    scalar distance.

    Registers are the deterministic md5-derived HLL of ops/sketches
    (bucket = first hex char of md5(node key) -> 16 registers, ~26% rse
    — the demo width; production bumps P_HEX like hll_registers, same
    plan), rho from the next 12 hex chars. The hashed surface is
    all-integer sufficient statistics per (node, radius): ``n_present``
    (registers occupied) and ``sum_pow = sum_j 2^(49 - r_max_j)`` — the
    exact integer numerator of the HLL estimator's sum 2^-r_max =
    sum_pow / 2^49 (r_max <= 49, so each term is an exact long and the
    sum is order-free). The float estimate is a derived, never-hashed
    division (the NPMI / hll_estimate precedent).

    Scale shape: adjacency persisted once; each round joins the
    edge-sized sym table with the (nodes x <=16)-row register table and
    max-aggregates — map-side combine does the merging (duplicate
    (node, bucket) rows collapse before the shuffle). Register state is
    CHECKPOINTED per round: it feeds the per-radius stats aggregate,
    the next round's join, AND the union (the er.hits lineage rule).
    A hub is at most 16 reducer keys in the max-aggregate — no skew
    amplification."""
    from unsupervised_ner_spark.ops.sketches import _rho_from_suffix

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    nodes = sym.select(F.col("src").alias("k")).distinct()
    h = F.md5(F.col("k"))
    reg = scoped_persist(
        nodes.select(
            "k",
            F.substring(h, 1, 1).alias("bucket"),
            _rho_from_suffix(F.substring(h, 2, 12)).alias("r_max"),
        ),
        how="checkpoint",
    )

    def stats(r: DataFrame, radius: int) -> DataFrame:
        return r.groupBy("k").agg(
            F.lit(radius).cast("long").alias("radius"),
            F.count("*").cast("long").alias("n_present"),
            F.sum(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - r_max AS INT))")
            ).cast("long").alias("sum_pow"),
        )

    out = stats(reg, 0)
    for radius in range(1, int(rounds) + 1):
        prop = sym.join(reg.withColumnRenamed("k", "src"), "src").select(
            F.col("dst").alias("k"), "bucket", "r_max"
        )
        reg = scoped_persist(
            reg.unionByName(prop)
            .groupBy("k", "bucket")
            .agg(F.max("r_max").cast("long").alias("r_max")),
            how="checkpoint",
        )
        out = out.unionByName(stats(reg, radius))

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "radius", "n_present", "sum_pow",
    )


def anf_estimate(anf: DataFrame, m: int = 16) -> DataFrame:
    """Derived float |B_r(v)| estimate from anf_registers output (never
    hashed): alpha_m * m^2 / (sum_pow/2^49 + zeros), with the standard
    small-range linear-counting correction (the hll_estimate formula
    over per-node registers)."""
    alpha = 0.673 if m == 16 else 0.7213 / (1.0 + 1.079 / m)
    zeros = (F.lit(m) - F.col("n_present")).cast("double")
    raw = F.lit(alpha * m * m) / (
        F.col("sum_pow").cast("double") / F.lit(float(2**49)) + zeros
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return anf.select("ent", "etype", "radius", est.alias("estimate"))


def maximal_independent_set(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Parallel greedy maximal independent set over the entity graph —
    Luby's symmetry-breaking scheme (Luby 1986) in its deterministic
    fixed-priority form (parallel greedy with random priorities; Blelloch
    et al. SPAA'12 prove O(log^2 n) rounds w.h.p.): every node gets an
    md5-derived priority, and per round every still-undecided node whose
    (priority, key) is a LOCAL MINIMUM among its undecided neighbors
    joins the MIS; its undecided neighbors become excluded. MIS is the
    classic distributed symmetry-breaking primitive — here it yields a
    maximal set of pairwise NON-co-occurring entities (a diversity
    anchor set: no two picks ever appear in the same sentence), and the
    same kernel is the scheduling/coloring building block.

    Output: (ent, etype, status, round) — status 'mis' or 'excluded'
    with the deciding round (1-based), or 'open' with round = ``rounds``
    for nodes still undecided at the horizon (the fixed-round contract
    of the BFS family; the oracle unrolls identically).

    Scale shape: adjacency persisted once; per round TWO edge-keyed
    equi-joins against the node-sized undecided table (restrict edges to
    undecided endpoints), one "defeated by a neighbor" anti-join, one
    distinct for the exclusions — all map-side-combinable, nothing
    corpus-quadratic. The undecided table SHRINKS geometrically (that is
    Luby's theorem), so later rounds are cheaper; state is checkpointed
    per round (feeds the edge restriction twice, the anti-join, and the
    output union — the er.hits lineage rule)."""
    from unsupervised_ner_spark.ops.kgtrain import md5_int32

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    und = scoped_persist(
        sym.select(F.col("src").alias("k"))
        .distinct()
        .select("k", md5_int32(F.col("k")).alias("prio")),
        how="checkpoint",
    )
    out = None
    for r in range(1, int(rounds) + 1):
        # edges with BOTH endpoints undecided, priorities attached
        e = sym.join(
            und.select(F.col("k").alias("src"), F.col("prio").alias("sp")),
            "src",
        ).join(
            und.select(F.col("k").alias("dst"), F.col("prio").alias("dp")),
            "dst",
        )
        # a node loses if any undecided neighbor precedes it in
        # (priority, key) order — md5 collisions fall back to key order
        beaten = (
            e.filter(
                F.struct(F.col("dp"), F.col("dst"))
                < F.struct(F.col("sp"), F.col("src"))
            )
            .select(F.col("src").alias("k"))
            .distinct()
        )
        win = scoped_persist(und.join(beaten, "k", "left_anti").select("k"))
        excl = (
            e.join(win.withColumnRenamed("k", "src"), "src")
            .select(F.col("dst").alias("k"))
            .distinct()
        )
        decided = win.select(
            "k", F.lit("mis").alias("status"),
            F.lit(r).cast("long").alias("round"),
        ).unionByName(
            excl.select(
                "k", F.lit("excluded").alias("status"),
                F.lit(r).cast("long").alias("round"),
            )
        )
        out = decided if out is None else out.unionByName(decided)
        und = scoped_persist(
            und.join(
                decided.select("k"), "k", "left_anti"
            ),
            how="checkpoint",
        )
    out = out.unionByName(
        und.select(
            "k", F.lit("open").alias("status"),
            F.lit(int(rounds)).cast("long").alias("round"),
        )
    )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"), "status", "round"
    )


def densest_subgraph_peel(
    edges: DataFrame, rounds: int = 4, eps_num: int = 11, eps_den: int = 10,
) -> DataFrame:
    """Densest-subgraph 2(1+eps)-approximation by parallel peeling
    (Charikar 2000 made MapReduce-parallel by Bahmani, Kumar & Vassilvitskii
    VLDB'12): repeatedly delete EVERY node whose degree is at most
    2(1+eps) x the current average density |E|/|V|; the best-density
    snapshot over the peel is within 2(1+eps) of the optimum, and the
    graph shrinks geometrically so O(log n / eps) rounds suffice. The
    densest entity cluster is the KG hairball detector — the community
    whose co-occurrence is too dense to be topical (boilerplate
    surfaces, navigation noise) or the genuinely hot subtopic.

    All-integer determinism: the peel test ``deg <= 2(1+eps)|E|/|V|``
    is evaluated as ``deg * n * eps_den <= eps_num * e2`` (e2 = 2|E| in
    the symmetrized table, eps = eps_num/eps_den - 1); the best snapshot
    is the pairwise EXACT fraction comparison ``e_r * n_s >= e_s * n_r``
    (ties -> earliest round) over the <= rounds+1 snapshot stats rows —
    no float density anywhere. Overflow bound: e2 * n must fit a long
    (fine through ~10^9 nodes x 10^13 edge-ends; beyond that widen to
    decimal — the comparison stays exact either way).

    Output: (ent, etype, peel_round, in_best) — peel_round 1-based,
    ``rounds + 1`` for survivors of the whole peel; in_best = 1 iff the
    node is a member of the argmax-density snapshot (peel_round >
    best round). At least one node peels every round (min degree <=
    average <= the threshold), so the peel always progresses.

    Scale shape: adjacency persisted once; per round two equi-joins
    restrict edges to alive endpoints, one degree aggregate, one
    anti-join — the MIS/BFS family posture; alive-state checkpointed per
    round. The per-round (n, e2) snapshot counts are the only driver
    actions — O(rounds) scalar reads, the adaptive-cap precedent."""
    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    alive = scoped_persist(
        sym.select(F.col("src").alias("k")).distinct(), how="checkpoint"
    )
    snaps: list[tuple[int, int, int]] = []  # (round, n, e2)
    peeled: list[DataFrame] = []
    for r in range(1, int(rounds) + 1):
        e_alive = sym.join(
            alive.withColumnRenamed("k", "src"), "src"
        ).join(alive.select(F.col("k").alias("dst")), "dst")
        e_alive = scoped_persist(e_alive)
        n = alive.count()
        e2 = e_alive.count()
        snaps.append((r - 1, n, e2))
        if n == 0:
            break
        deg = e_alive.groupBy("src").agg(
            F.count("*").cast("long").alias("deg")
        )
        peel = (
            alive.join(deg.withColumnRenamed("src", "k"), "k", "left")
            .filter(
                F.coalesce(F.col("deg"), F.lit(0))
                * F.lit(int(n)) * F.lit(int(eps_den))
                <= F.lit(int(eps_num)) * F.lit(int(e2))
            )
            .select("k", F.lit(r).cast("long").alias("peel_round"))
        )
        peeled.append(scoped_persist(peel))
        alive = scoped_persist(
            alive.join(peel.select("k"), "k", "left_anti"),
            how="checkpoint",
        )
    # final snapshot after the last peel
    n_fin = alive.count()
    if n_fin:
        e2_fin = (
            sym.join(alive.withColumnRenamed("k", "src"), "src")
            .join(alive.select(F.col("k").alias("dst")), "dst")
            .count()
        )
    else:
        e2_fin = 0
    snaps.append((len(snaps), n_fin, e2_fin))
    # exact-fraction argmax: best r s.t. no s has e_s/n_s > e_r/n_r
    nonzero = [(r, n, e2) for r, n, e2 in snaps if n > 0]
    best_r = min(
        (r for r, n, e2 in nonzero
         if not any(
             t_e2 * n > e2 * t_n or (t_e2 * n == e2 * t_n and t_r < r)
             for t_r, t_n, t_e2 in nonzero
         )),
    )
    out = alive.select(
        "k", F.lit(int(rounds) + 1).cast("long").alias("peel_round")
    )
    for p in peeled:
        out = out.unionByName(p)

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"), "peel_round",
        (F.col("peel_round") > F.lit(int(best_r)))
        .cast("long").alias("in_best"),
    )


def coreness_hindex(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Core-number decomposition by iterated neighborhood H-index (Lü,
    Zhou, Zhang & Stanley, PNAS 2016): start every node at its degree
    and repeatedly replace each node's value with the H-INDEX of its
    neighbors' values (the largest h such that at least h neighbors
    hold value >= h); the sequence is pointwise non-increasing and
    converges exactly to the k-core number. This turns the inherently
    SEQUENTIAL classic coreness peel (remove min-degree nodes one k at a
    time) into synchronous local rounds — the form a 1000-executor
    cluster can actually run — and complements the fixed-k `kcore`
    filter with the full decomposition (every node's core number, the
    standard graph-robustness / tier-assignment signal).

    Output: (ent, etype, coreness) after ``rounds`` H-operator rounds —
    an upper bound that decreases monotonically to the exact core
    number (the fixed-round contract of the BFS family; exact
    convergence is property-tested against the brute-force peel in the
    unit suite).

    Scale shape: adjacency persisted once; a round is one edge-keyed
    equi-join (attach neighbor values) + one per-node window + one
    aggregate; value state checkpointed per round (feeds the join and
    the next round — the er.hits lineage rule). The per-node window
    partitions on the node key with partition size = degree; for
    extreme hubs the identical H-index is computable from the bounded
    value domain instead (per-(node, value) counts + a cumulative sum
    over values <= max degree) — same result, no per-neighbor sort;
    the window form is the gate shape."""
    from pyspark.sql import Window

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    h = scoped_persist(
        sym.groupBy("src")
        .agg(F.count("*").cast("long").alias("val"))
        .withColumnRenamed("src", "k"),
        how="checkpoint",
    )
    w = Window.partitionBy("src").orderBy(F.desc("nval"), F.asc("dst"))
    for _ in range(int(rounds)):
        nb = sym.join(
            h.select(F.col("k").alias("dst"), F.col("val").alias("nval")),
            "dst",
        )
        h = scoped_persist(
            nb.withColumn("rn", F.row_number().over(w).cast("long"))
            .groupBy("src")
            .agg(F.max(F.least(F.col("nval"), F.col("rn"))).alias("val"))
            .withColumnRenamed("src", "k"),
            how="checkpoint",
        )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return h.select(
        part(0).alias("ent"), part(1).alias("etype"),
        F.col("val").cast("long").alias("coreness"),
    )


def scc_coloring(
    directed: DataFrame, inner_rounds: int = 3, outer_rounds: int = 2
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph by the coloring
    / forward-backward scheme (Orzan 2004; the FW-BW-Trim family of
    Slota et al. IPDPS'14; McLendon et al. JPDC 2005) — the directed
    complement of :func:`graph_components` (which symmetrizes and thus
    computes WEAK components). On the triple graph an SCC is a set of
    entities all mutually reachable through directed facts — cyclic
    knowledge (ownership loops, mutual-subsidiary tangles), exactly what
    a DAG-assuming downstream (taxonomy, topological ordering) must have
    surfaced first.

    Per outer round over the still-active subgraph: (1) COLOR — every
    node starts as its own color and ``inner_rounds`` synchronous
    max-merges propagate colors FORWARD along edges, so color(v) ends as
    the max key that reaches v within the horizon; every SCC is
    monochrome under the fixpoint coloring. (2) PIVOT + BACKWARD — each
    color class's pivot is the node equal to its color; a backward
    reachability sweep from the pivots RESTRICTED to same-color nodes
    marks exactly the pivot's SCC (reaches pivot AND shares its
    ancestor-max), which is retired with scc_id = color. Nodes still
    active after ``outer_rounds`` report status 'open' (the fixed-round
    contract of the BFS family; the oracle unrolls identically, and the
    fixpoint behavior is unit-tested against a brute-force Tarjan).

    Output: (node, scc_id, status, round) — status 'scc' with the
    retiring outer round, or 'open' with round = ``outer_rounds`` and
    scc_id = ''.

    Scale shape: per outer round the active-restricted edge table is
    persisted once and feeds every inner step; each inner step is one
    edge-keyed equi-join against the node-sized color/reach table plus
    one map-side-combining max/distinct aggregate — O(outer * inner)
    bounded shuffle pairs, nothing corpus-quadratic. Color state is
    checkpointed per step (each state feeds the next join AND the pivot
    filter — the er.hits lineage rule). Retired nodes shrink the active
    set monotonically, so later rounds are strictly cheaper."""
    nodes = scoped_persist(
        directed.select(F.col("src").alias("k"))
        .unionAll(directed.select(F.col("dst").alias("k")))
        .distinct(),
        how="checkpoint",
    )
    active = nodes
    out = None
    for o in range(1, int(outer_rounds) + 1):
        e = scoped_persist(
            directed.join(active.withColumnRenamed("k", "src"), "src").join(
                active.withColumnRenamed("k", "dst"), "dst"
            ),
            how="checkpoint",
        )
        color = scoped_persist(
            active.select("k", F.col("k").alias("c")), how="checkpoint"
        )
        for _ in range(int(inner_rounds)):
            pushed = e.join(
                color.withColumnRenamed("k", "src"), "src"
            ).select(F.col("dst").alias("k"), "c")
            color = scoped_persist(
                color.unionByName(pushed)
                .groupBy("k")
                .agg(F.max("c").alias("c")),
                how="checkpoint",
            )
        reach = scoped_persist(
            color.filter(F.col("k") == F.col("c")).select("k", "c"),
            how="checkpoint",
        )
        for _ in range(int(inner_rounds)):
            back = (
                e.withColumnRenamed("dst", "rk")
                .join(
                    reach.select(F.col("k").alias("rk"), F.col("c").alias("rc")),
                    "rk",
                )
                .join(
                    color.select(F.col("k").alias("src"), F.col("c").alias("sc")),
                    "src",
                )
                .filter(F.col("sc") == F.col("rc"))
                .select(F.col("src").alias("k"), F.col("rc").alias("c"))
            )
            reach = scoped_persist(
                reach.unionByName(back).distinct(), how="checkpoint"
            )
        decided = reach.select(
            "k",
            F.col("c").alias("scc_id"),
            F.lit("scc").alias("status"),
            F.lit(o).cast("long").alias("round"),
        )
        out = decided if out is None else out.unionByName(decided)
        active = scoped_persist(
            active.join(reach.select("k"), "k", "left_anti"),
            how="checkpoint",
        )
    out = out.unionByName(
        active.select(
            "k",
            F.lit("").alias("scc_id"),
            F.lit("open").alias("status"),
            F.lit(int(outer_rounds)).cast("long").alias("round"),
        )
    )
    return out.withColumnRenamed("k", "node")


def sssp_relax_round(sym: DataFrame, dist: DataFrame) -> DataFrame:
    """One Bellman-Ford relaxation: push dist+w along every adjacency row
    whose source is settled, min-merge with the standing distances. Split
    out so capture_plans can assert the ROUND plan (frontier-keyed
    equi-join + map-side-combining min) — the per-round checkpoint hides
    it from the final query plan."""
    relaxed = sym.join(dist.withColumnRenamed("k", "src"), "src").select(
        F.col("dst").alias("k"), (F.col("dist") + F.col("w")).alias("dist")
    )
    return (
        dist.unionByName(relaxed)
        .groupBy("k")
        .agg(F.min("dist").cast("long").alias("dist"))
    )


def sssp_weighted(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Single-source WEIGHTED shortest paths from the hub entity —
    synchronous Bellman-Ford relaxation (the Pregel/GraphX SSSP shape)
    over the co-occurrence graph with the integer tie-strength metric
    w = max(1, 4 - n_sents): strongly co-mentioned pairs are CLOSE
    (w = 1), one-off co-mentions are FAR (w = 3) — the weighted
    complement of :func:`bfs_distances` (hop metric) and the distance
    semantics entity-relatedness ranking actually wants. Source = the
    single highest-degree node ((deg DESC, key ASC) ties, the
    bfs_distances rule); ``rounds`` synchronous relaxations bound the
    horizon (fixed-round contract, oracle unrolls identically). Output:
    (ent, etype, dist) for every node with a settled path, all integer.

    Scale shape: identical to bfs_distances — the symmetrized weighted
    adjacency is persisted once and reused every round; each round is
    one frontier-keyed equi-join + one min-aggregate, O(rounds) shuffle
    pairs; a hub node is one reducer key in the min-aggregate."""
    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
            F.greatest(F.lit(1), F.lit(4) - F.col("n_sents"))
            .cast("long")
            .alias("w"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
                F.greatest(F.lit(1), F.lit(4) - F.col("n_sents"))
                .cast("long")
                .alias("w"),
            )
        ),
        how="checkpoint",
    )
    from pyspark.sql import Window

    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    # argmax via TakeOrdered-1, never a node-sized single-partition window
    seed = deg.orderBy(F.desc("deg"), F.asc("src")).limit(1)
    dist = scoped_persist(
        seed.select(F.col("src").alias("k"), F.lit(0).cast("long").alias("dist")),
        how="checkpoint",
    )
    for _ in range(int(rounds)):
        dist = scoped_persist(sssp_relax_round(sym, dist), how="checkpoint")

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return dist.select(part(0).alias("ent"), part(1).alias("etype"), "dist")


def butterflies(doc_edges: DataFrame) -> DataFrame:
    """Per-entity BUTTERFLY (bipartite 4-cycle) counts over the
    document-entity incidence graph — the bipartite clustering primitive
    (Wang et al. VLDB'19 "Vertex Priority Based Butterfly Counting"):
    a butterfly is two documents sharing the SAME two entities, the
    smallest non-trivial bipartite motif and the standard cohesion
    signal for bipartite community detection (k-bitruss) and
    spam-cluster mining (two templated pages stamping out the same
    entity pair). For an entity pair sharing c documents the pair
    carries C(c, 2) butterflies; an entity's count sums over its
    partners. Output: (ent, etype, n_partners, n_multi_partners,
    n_bfly) — partners = co-document entities, multi = partners sharing
    >= 2 docs, all integers (measured at sf0.001: 2 multi-doc pairs,
    max shared docs 4, so the non-zero branch fires on real data).

    Scale shape: rides the already-aggregated
    :func:`doc_cooccurrence_edges` table (bounded by distinct entity
    pairs, never corpus size); the count is one symmetrizing union +
    one map-side-combining aggregate keyed on the entity — C(c,2)
    computed per pair row in closed form, no enumeration of the
    quadratically many concrete butterflies."""
    pairs = doc_edges.select(
        "ent_a", "type_a", "ent_b", "type_b",
        (F.col("n_docs") * (F.col("n_docs") - 1) / 2)
        .cast("long")
        .alias("bfly"),
        F.col("n_docs").alias("nd"),
    )
    a = pairs.select(
        F.col("ent_a").alias("ent"), F.col("type_a").alias("etype"),
        "bfly", "nd",
    )
    b = pairs.select(
        F.col("ent_b").alias("ent"), F.col("type_b").alias("etype"),
        "bfly", "nd",
    )
    return a.unionByName(b).groupBy("ent", "etype").agg(
        F.count("*").cast("long").alias("n_partners"),
        F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_multi_partners"),
        F.sum("bfly").cast("long").alias("n_bfly"),
    )


def _fs_agreement(features: DataFrame) -> DataFrame:
    """Shared Fellegi-Sunter binarization (fs_weights + fs_patterns):
    the rule-seeded match label and the four 0/1 agreement features
    derived from pair_features' exact integers."""
    return features.select(
        F.when(F.col("lev") <= 1, 1).otherwise(0).cast("long").alias("m"),
        F.when(F.col("tok_overlap") >= 1, 1)
        .otherwise(0).cast("long").alias("f_tok"),
        F.when(F.col("sh_jaccard_ppm") >= 500_000, 1)
        .otherwise(0).cast("long").alias("f_jac"),
        F.when(
            F.abs(F.col("len_a") - F.col("len_b")) <= 1, 1
        ).otherwise(0).cast("long").alias("f_len"),
        F.when(
            F.substring("surf_a", 1, 2) == F.substring("surf_b", 1, 2), 1
        ).otherwise(0).cast("long").alias("f_pre2"),
    )


def fs_patterns(features: DataFrame, ratio: int = 4) -> DataFrame:
    """Fellegi-Sunter agreement-PATTERN decision table (Fellegi & Sunter
    JASA 1969 §3 — the three-region rule fs_weights' per-feature m/u
    statistics feed): candidate pairs collapse onto their full 4-bit
    agreement vector gamma; per pattern the empirical match/nonmatch
    counts give the likelihood-ratio ordering, and the EXACT cross-
    multiplied threshold ``n_match >= ratio * n_nonmatch`` (resp. the
    reverse) assigns 'link' / 'nonlink' / 'possible' — the possible
    region IS the clerical-review queue an active-learning labeler
    drains first, emitted with exact integers only (no float
    likelihood ever enters the gate).

    Scale shape: one narrow map over the already-blocked pair table,
    one map-side-combining aggregate onto the <= 2^4-row pattern
    vocabulary. No join, no window."""
    lab = _fs_agreement(features)
    pat = F.concat(
        F.col("f_tok").cast("string"), F.col("f_jac").cast("string"),
        F.col("f_len").cast("string"), F.col("f_pre2").cast("string"),
    )
    agg = lab.groupBy(pat.alias("pattern")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("m").cast("long").alias("n_match"),
        F.sum(1 - F.col("m")).cast("long").alias("n_nonmatch"),
    )
    r = int(ratio)
    return agg.select(
        "pattern", "n_pairs", "n_match", "n_nonmatch",
        F.when(F.col("n_match") >= r * F.col("n_nonmatch"), F.lit("link"))
        .when(F.col("n_nonmatch") >= r * F.col("n_match"), F.lit("nonlink"))
        .otherwise(F.lit("possible")).alias("region"),
    )


def fs_weights(features: DataFrame) -> DataFrame:
    """Fellegi-Sunter match/unmatch weight SUFFICIENT STATISTICS over
    the ER pair-feature channel (Fellegi & Sunter JASA 1969) — the
    classical probabilistic record-linkage model: every comparison
    feature f gets m_f = P(agree | match) and u_f = P(agree | unmatch),
    and a candidate pair is scored by sum of log(m_f/u_f) over agreeing
    features. Here the m/u probabilities are estimated from the
    rule-seeded label the deterministic channel already provides
    (match = Levenshtein <= 1, the phonetic_pairs acceptance rule —
    the standard "seed FS from an unambiguous rule, then iterate EM"
    bootstrap), and the gated surface is the INTEGER sufficient
    statistics per feature: (feature, n_match, n_match_agree,
    n_nonmatch, n_nonmatch_agree). The float weights log(m/u) /
    log((1-m)/(1-u)) are cheap derived columns and never enter the
    hashed gate (the NPMI precedent).

    Agreement features (binarized from pair_features' exact integers):
    token overlap >= 1, shingle Jaccard >= 0.5, |len_a - len_b| <= 1,
    and 2-char prefix equality.

    Scale shape: one narrow map over the already-blocked pair table
    (bounded by bucket caps, never corpus-quadratic), a 4-way stack
    (constant fan-out), and one map-side-combining aggregate over the
    4-row feature vocabulary."""
    lab = _fs_agreement(features)
    stacked = lab.select(
        "m",
        F.expr(
            "stack(4, 'tok_overlap', f_tok, 'shingle_jaccard', f_jac,"
            " 'len_diff_le1', f_len, 'prefix2_eq', f_pre2)"
            " AS (feature, agree)"
        ),
    )
    return stacked.groupBy("feature").agg(
        F.sum("m").cast("long").alias("n_match"),
        F.sum(F.col("m") * F.col("agree")).cast("long").alias("n_match_agree"),
        F.sum(1 - F.col("m")).cast("long").alias("n_nonmatch"),
        F.sum((1 - F.col("m")) * F.col("agree"))
        .cast("long")
        .alias("n_nonmatch_agree"),
    )


def boruvka_msf(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Borůvka minimum spanning forest over the co-occurrence graph
    (Borůvka 1926; the canonical O(log n)-round distributed MSF —
    Pemmaraju/Sardeshmukh, and the MST step of single-linkage
    clustering at scale): edge weight is the integer DISSIMILARITY
    w = 1_000_000 div n_sents (strong co-mention ties are light), total
    order (w, src>dst key) makes the MSF unique — no tie ambiguity, so
    the DuckDB oracle replays it exactly. Per round every component
    selects its minimum outgoing edge; selected edges join the forest
    and the touched components merge (min-label CC over the
    component-contraction graph — Sollin's step). ``rounds`` fixed
    rounds (the BFS-family contract): 2 rounds resolve forests of
    size <= 4 components per tree; remaining merges are the next
    rounds' work. Output: the selected forest edges (ent/type pairs, w,
    selecting round).

    The KG use: the MSF over co-mention dissimilarity IS single-linkage
    clustering's dendrogram skeleton — cutting it at a weight threshold
    yields flat entity-topic clusters without ever materializing the
    quadratic similarity matrix.

    Scale shape: the weighted edge table is checkpointed once (feeds
    every round's candidate join); per round TWO node-sized label joins
    attach component ids, one (component)-keyed window picks the min
    edge per component (bounded by #components), and the contraction CC
    runs over the SELECTED edge set only (<= #components edges — the
    large/small-star loop, O(log n) rounds on an edge set that shrinks
    geometrically). Nothing corpus-quadratic; labels checkpoint per
    round."""
    from pyspark.sql import Window

    e = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
            F.expr("1000000 div n_sents").cast("long").alias("w"),
        ).withColumn("ekey", F.concat_ws(">", "src", "dst")),
        how="checkpoint",
    )
    comp = scoped_persist(
        e.select(F.col("src").alias("k"))
        .unionAll(e.select(F.col("dst").alias("k")))
        .distinct()
        .select("k", F.col("k").alias("comp")),
        how="checkpoint",
    )
    out = None
    for r in range(1, int(rounds) + 1):
        cand = (
            e.join(
                comp.select(F.col("k").alias("src"), F.col("comp").alias("ca")),
                "src",
            )
            .join(
                comp.select(F.col("k").alias("dst"), F.col("comp").alias("cb")),
                "dst",
            )
            .filter(F.col("ca") != F.col("cb"))
        )
        dirs = cand.select(
            F.col("ca").alias("c"), "src", "dst", "w", "ekey", "ca", "cb"
        ).unionByName(
            cand.select(
                F.col("cb").alias("c"), "src", "dst", "w", "ekey", "ca", "cb"
            )
        )
        wsel = Window.partitionBy("c").orderBy(F.asc("w"), F.asc("ekey"))
        sel = scoped_persist(
            dirs.withColumn("rn", F.row_number().over(wsel))
            .filter(F.col("rn") == 1)
            .select("src", "dst", "w", "ekey", "ca", "cb")
            .distinct(),
            how="checkpoint",
        )
        picked = sel.select(
            "src", "dst", "w", F.lit(r).cast("long").alias("round")
        )
        out = picked if out is None else out.unionByName(picked)
        cnodes = comp.select(F.col("comp").alias("node_id")).distinct()
        cedges = sel.select(
            F.col("ca").alias("node_a"), F.col("cb").alias("node_b")
        ).distinct()
        newlab, _iters = connected_components_star(cnodes, cedges)
        comp = scoped_persist(
            comp.join(
                newlab.select(
                    F.col("node_id").alias("comp"),
                    F.col("component").alias("newc"),
                ),
                "comp",
                "left",
            ).select("k", F.coalesce("newc", "comp").alias("comp")),
            how="checkpoint",
        )

    def part(c, j):
        return F.split(F.col(c), r"\|")[j]

    return out.select(
        part("src", 0).alias("ent_a"), part("src", 1).alias("type_a"),
        part("dst", 0).alias("ent_b"), part("dst", 1).alias("type_b"),
        "w", "round",
    )


def scc_condensation(
    directed: DataFrame, inner_rounds: int = 3, outer_rounds: int = 2
) -> DataFrame:
    """Condensation DAG of the directed triple graph — every SCC
    contracted to one node (the classic acyclic quotient every
    topological downstream actually runs on): resolved nodes map to
    their scc_id, horizon-'open' nodes stand as their own singleton
    (honest under the fixed-round contract — an open node's cycle
    membership is simply not yet proven). Output: (scc_a, scc_b,
    n_edges) — distinct label pairs with the original directed edge
    multiplicity, self-pairs (intra-SCC edges) dropped.

    Scale shape: the scc labeling (see :func:`scc_coloring`) plus two
    node-sized label joins onto the edge table and one
    map-side-combining aggregate bounded by distinct label pairs."""
    labels = scc_coloring(directed, inner_rounds, outer_rounds).select(
        F.col("node").alias("k"),
        F.when(F.col("status") == "scc", F.col("scc_id"))
        .otherwise(F.col("node"))
        .alias("lab"),
    )
    return (
        directed.join(
            labels.select(F.col("k").alias("src"), F.col("lab").alias("scc_a")),
            "src",
        )
        .join(
            labels.select(F.col("k").alias("dst"), F.col("lab").alias("scc_b")),
            "dst",
        )
        .filter(F.col("scc_a") != F.col("scc_b"))
        .groupBy("scc_a", "scc_b")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


def entity_top_facts(support: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` facts per canonical subject entity — the entity-card /
    KG-summarization serving primitive (LinkSUM-shaped, Thalhammer et
    al. ESWC'16: rank a target's facts by evidence strength and the
    IMPORTANCE of the linked object, so "covid — causes — pneumonia"
    beats a one-off tail fact): facts rank by (n_support DESC, object
    salience DESC, pred ASC, obj_id ASC), where an entity's salience is
    the total triple support it participates in on either side — all
    integers, total order, no floats.

    Scale shape: salience is one symmetrizing union + map-side
    aggregate over the BOUNDED support table (distinct graph edges);
    the rank window partitions on subj_id (per-entity sort, never
    global); output k rows per subject. The support table feeds THREE
    plan references (both salience union legs + the ranked join), so it
    is persisted here — without it the whole upstream canonical chain
    replans/replays per reference (round-6: the q_kg_pra precedent,
    measured 9.0 -> ~7 s on kg_entity_facts at sf0.1)."""
    from pyspark.sql import Window

    from unsupervised_ner_spark.caching import scoped_persist

    support = scoped_persist(support)
    sal = (
        support.select(F.col("subj_id").alias("ent"), "n_support")
        .unionAll(support.select(F.col("obj_id").alias("ent"), "n_support"))
        .groupBy("ent")
        .agg(F.sum("n_support").cast("long").alias("sal"))
    )
    ranked = support.join(
        sal.select(F.col("ent").alias("obj_id"), F.col("sal").alias("obj_sal")),
        "obj_id",
    )
    w = Window.partitionBy("subj_id").orderBy(
        F.desc("n_support"), F.desc("obj_sal"), F.asc("pred"), F.asc("obj_id")
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= int(k))
        .select(
            "subj_id", "subj_type", "subj_repr", "pred",
            "obj_id", "obj_type", "obj_repr",
            "n_support", "n_docs", "obj_sal", "rnk",
        )
    )


def pra_features(
    support: DataFrame, max_mid_degree: int | None = None
) -> DataFrame:
    """Path-Ranking-Algorithm feature table (Lao & Cohen ECML'10; the
    relation-path features KB-completion models like PRA/SFE train on):
    for every ordered entity pair connected by a 2-hop path, one row per
    PATH TYPE (pred_ab, pred_bc) with the path count and distinct-middle
    diversity, labeled with whether a DIRECT edge already links the pair
    (the positive class) and its predicate — "X -born_in-> Y -capital_of->
    Z predicts X -citizen_of-> Z" is exactly this table's signal.

    Output: (a_id, c_id, pred_ab, pred_bc, n_paths, n_mids, known_link,
    direct_pred) — direct_pred is the min predicate over existing direct
    edges ('' when none), all else integers; cycles (a == c) excluded.

    Scale shape: rides :func:`paths_2hop` (degree-capped middles — the
    hub that composes with everything predicts nothing) plus one
    map-side-combining aggregate to the path-type vocabulary and one
    left join against the DIRECT-edge aggregate of the bounded support
    table; the support table feeds both (persist upstream)."""
    paths = paths_2hop(support, max_mid_degree).filter(F.col("is_cycle") == 0)
    feat = paths.groupBy("a_id", "c_id", "pred_ab", "pred_bc").agg(
        F.count("*").cast("long").alias("n_paths"),
        F.countDistinct("mid_id").cast("long").alias("n_mids"),
    )
    direct = support.groupBy(
        F.col("subj_id").alias("a_id"), F.col("obj_id").alias("c_id")
    ).agg(F.min("pred").alias("direct_pred"))
    return feat.join(direct, ["a_id", "c_id"], "left").select(
        "a_id", "c_id", "pred_ab", "pred_bc", "n_paths", "n_mids",
        F.when(F.col("direct_pred").isNull(), 0)
        .otherwise(1).cast("long").alias("known_link"),
        F.coalesce("direct_pred", F.lit("")).alias("direct_pred"),
    )


def jp_coloring(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Greedy distributed graph coloring — Jones & Plassmann (SIAM J. Sci.
    Comput. 1993), the scheduling complement of
    :func:`maximal_independent_set` built from the SAME symmetry-breaking
    kernel: every node gets a deterministic md5 priority, and per round
    every still-uncolored node whose (priority, key) is a LOCAL MINIMUM
    among its uncolored neighbors takes the smallest color not used by
    any already-colored neighbor (the mex). Round winners form an
    independent set (two adjacent nodes cannot both be local minima), so
    concurrent assignment never conflicts — the classic proof that the
    greedy sequential coloring parallelizes. A proper coloring of the
    co-occurrence graph is the conflict-free batching primitive: color
    classes are sets of entities that never share a sentence, so per-color
    passes (ER merges, cache shards, embedding updates) are contention-free.

    Output: (ent, etype, status, round, color) — 'colored' with the
    1-based deciding round and color >= 0, or 'open' with round =
    ``rounds`` and color = -1 for nodes past the fixed-round horizon
    (the BFS-family contract; the oracle unrolls identically).

    All-integer determinism: priorities are md5-int32 with key-order
    tie-break; the mex over the sorted distinct neighbor colors is the
    exact fold ``acc := acc + 1 if x == acc`` — no floats anywhere.

    Scale shape: adjacency persisted once (checkpointed — it feeds the
    undecided restriction twice, the winner/used-color joins, every
    round); per round two edge-keyed equi-joins against the node-sized
    uncolored table, one defeated anti-join, one used-color join against
    the bounded colored table + a map-side-combining collect_set, and the
    O(deg)-cost mex fold per winner. Uncolored state and the growing
    colored table are checkpointed per round (each feeds >= 3 consumers
    next round — the er.hits lineage rule). Nothing corpus-quadratic."""
    from unsupervised_ner_spark.ops.kgtrain import md5_int32

    sym = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
        ).unionAll(
            edges.select(
                F.concat_ws("|", "ent_b", "type_b").alias("src"),
                F.concat_ws("|", "ent_a", "type_a").alias("dst"),
            )
        ),
        how="checkpoint",
    )
    und = scoped_persist(
        sym.select(F.col("src").alias("k"))
        .distinct()
        .select("k", md5_int32(F.col("k")).alias("prio")),
        how="checkpoint",
    )
    colored = None  # (k, color, round) — grows by the winner set per round
    for r in range(1, int(rounds) + 1):
        e = sym.join(
            und.select(F.col("k").alias("src"), F.col("prio").alias("sp")),
            "src",
        ).join(
            und.select(F.col("k").alias("dst"), F.col("prio").alias("dp")),
            "dst",
        )
        beaten = (
            e.filter(
                F.struct(F.col("dp"), F.col("dst"))
                < F.struct(F.col("sp"), F.col("src"))
            )
            .select(F.col("src").alias("k"))
            .distinct()
        )
        win = scoped_persist(und.join(beaten, "k", "left_anti").select("k"))
        if colored is None:
            newly = win.select(
                "k", F.lit(0).cast("long").alias("color"),
                F.lit(r).cast("long").alias("round"),
            )
        else:
            used = (
                sym.join(win.withColumnRenamed("k", "src"), "src")
                .join(
                    colored.select(
                        F.col("k").alias("dst"), F.col("color").alias("nc")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.array_sort(F.collect_set("nc")).alias("ncs"))
            )
            # mex of the sorted distinct neighbor colors: exact fold.
            mex = F.aggregate(
                F.col("ncs"),
                F.lit(0).cast("long"),
                lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
            )
            newly = (
                win.join(used.withColumnRenamed("src", "k"), "k", "left")
                .select(
                    "k",
                    F.coalesce(mex, F.lit(0).cast("long")).alias("color"),
                    F.lit(r).cast("long").alias("round"),
                )
            )
        colored = scoped_persist(
            newly if colored is None else colored.unionByName(newly),
            how="checkpoint",
        )
        und = scoped_persist(
            und.join(colored.select("k"), "k", "left_anti"),
            how="checkpoint",
        )
    out = colored.select(
        "k", F.lit("colored").alias("status"), "round", "color"
    ).unionByName(
        und.select(
            "k", F.lit("open").alias("status"),
            F.lit(int(rounds)).cast("long").alias("round"),
            F.lit(-1).cast("long").alias("color"),
        )
    )

    def part(j):
        return F.split(F.col("k"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        "status", "round", "color",
    )


def katz_index(edges: DataFrame, max_degree: int | None = None) -> DataFrame:
    """Truncated Katz index (Katz 1953; Liben-Nowell & Kleinberg CIKM'03)
    over the symmetrized co-occurrence graph — the WALK-counting link
    predictor beside :func:`common_neighbors` (which counts only length-2
    witnesses): score(a, b) = sum_l beta^l * |walks_l(a, b)| truncated at
    l = 3 with beta = 1/2, so longer detours still vote but geometrically
    less. Walks (not simple paths) are the Katz semantics — revisits
    count, exactly what the three chained equi-joins enumerate.

    Output: one row per unordered connected-within-3 pair (ent_a, type_a,
    ent_b, type_b, n1, n2, n3, katz_ppm) — n_l = directed walk counts
    a -> b (equal in both directions by symmetry, counted once with
    a < b), katz_ppm = 500000*n1 + 250000*n2 + 125000*n3 EXACT integer
    (beta^l at ppm scale); n1 > 0 marks known edges, the n1 = 0 rows are
    the ranked prediction candidates.

    Scale shape: walk enumeration through a hub is deg^l, so INTERMEDIATE
    nodes are degree-capped with the shared corpus-adaptive
    clamp(icbrt_ceil(n_sym), 16, 4096) rule (endpoints uncapped — the cap
    only gates who may relay a walk; the common_neighbors/paths_2hop
    posture, replayed exactly by the oracle). The symmetrized adjacency
    is persisted once (it feeds the degree aggregate and all three hop
    joins); each hop is one equi-join bounded by n_edges * cap; the final
    aggregate map-side combines onto the bounded pair space."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    sym = _sym_persist(edges)
    if max_degree is None:
        max_degree = max(16, min(4096, icbrt_ceil(max(sym.count(), 1))))
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    ok = deg.filter(F.col("deg") <= max_degree).select(
        F.col("src").alias("relay")
    )
    h1 = sym.select(F.col("src").alias("a"), F.col("dst").alias("x"))
    h2 = scoped_persist(
        h1.join(ok, h1["x"] == ok["relay"])
        .join(sym, h1["x"] == sym["src"])
        .select("a", F.col("dst").alias("x"))
    )
    h3 = (
        h2.join(ok, h2["x"] == ok["relay"])
        .join(sym, h2["x"] == sym["src"])
        .select("a", F.col("dst").alias("x"))
    )
    lv = (
        h1.select("a", F.col("x").alias("b"), F.lit(1).alias("level"))
        .unionByName(h2.select("a", F.col("x").alias("b"), F.lit(2).alias("level")))
        .unionByName(h3.select("a", F.col("x").alias("b"), F.lit(3).alias("level")))
    )
    agg = (
        lv.filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.sum(F.when(F.col("level") == 1, 1).otherwise(0))
            .cast("long").alias("n1"),
            F.sum(F.when(F.col("level") == 2, 1).otherwise(0))
            .cast("long").alias("n2"),
            F.sum(F.when(F.col("level") == 3, 1).otherwise(0))
            .cast("long").alias("n3"),
        )
    )

    def part(k, j):
        return F.split(F.col(k), r"\|")[j]

    return agg.select(
        part("a", 0).alias("ent_a"), part("a", 1).alias("type_a"),
        part("b", 0).alias("ent_b"), part("b", 1).alias("type_b"),
        "n1", "n2", "n3",
        (
            F.col("n1") * F.lit(500000)
            + F.col("n2") * F.lit(250000)
            + F.col("n3") * F.lit(125000)
        ).cast("long").alias("katz_ppm"),
    )


def topo_layers(dag: DataFrame, rounds: int = 6) -> DataFrame:
    """Kahn topological layering of the condensation DAG — the scheduling
    view every topological downstream (dependency-ordered fact
    materialization, stratified rule evaluation, hierarchy rendering)
    actually consumes: per round, every node with NO remaining incoming
    edge peels off into the next layer (layer = round - 1); a node's
    layer is exactly the length of the longest path reaching it, so the
    layering is the level-synchronous parallel topological sort (Kahn
    1962). Input is :func:`scc_condensation` output (scc_a, scc_b,
    n_edges); node set = edge endpoints (isolated SCCs never entered the
    condensation edge table and have trivial layer 0 by convention —
    documented, not emitted). Because horizon-'open' SCC singletons can
    still sit on unproven cycles, leftovers after ``rounds`` peels are
    emitted 'open' with layer -1 (the fixed-round contract; a true cycle
    never peels, which is the acyclicity check falling out for free).

    Scale shape: alive-node and alive-edge tables both bounded by the
    CONDENSATION (distinct SCC labels / label pairs — never corpus- or
    even node-sized for real graphs); per round one distinct projection
    + two anti-joins; peeled sources only ever remove edges by SRC (a
    peelable node has no incoming edge by definition), so edge pruning
    is one anti-join too. State is checkpointed per round (feeds the
    source test, both anti-joins, and the output union — the er.hits
    lineage rule); the geometric shrink argument of the BFS family
    applies."""
    edges = dag.select(
        F.col("scc_a").alias("src"), F.col("scc_b").alias("dst")
    ).distinct()
    alive_e = scoped_persist(edges, how="checkpoint")
    alive_n = scoped_persist(
        alive_e.select(F.col("src").alias("k"))
        .unionAll(alive_e.select(F.col("dst").alias("k")))
        .distinct(),
        how="checkpoint",
    )
    out = None
    for r in range(1, int(rounds) + 1):
        has_in = alive_e.select(F.col("dst").alias("k")).distinct()
        src_r = scoped_persist(alive_n.join(has_in, "k", "left_anti"))
        layer = src_r.select(
            "k", F.lit("layered").alias("status"),
            F.lit(r - 1).cast("long").alias("layer"),
        )
        out = layer if out is None else out.unionByName(layer)
        alive_n = scoped_persist(
            alive_n.join(src_r, "k", "left_anti"), how="checkpoint"
        )
        alive_e = scoped_persist(
            alive_e.join(src_r.withColumnRenamed("k", "src"), "src", "left_anti"),
            how="checkpoint",
        )
    out = out.unionByName(
        alive_n.select(
            "k", F.lit("open").alias("status"),
            F.lit(-1).cast("long").alias("layer"),
        )
    )
    return out.select(F.col("k").alias("scc"), "status", "layer")


def maximal_matching(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Parallel greedy maximal MATCHING over the entity co-occurrence
    graph — the edge-world sibling of :func:`maximal_independent_set`
    from the same local-minimum kernel (Israeli & Itai 1986; Blelloch,
    Fineman & Shun SPAA'12 prove the parallel local-min rule computes
    EXACTLY the sequential greedy matching in priority order, in
    O(log^2 m) rounds w.h.p.): every edge gets an md5-derived priority,
    and per round every alive edge that is the (priority, key) MINIMUM
    among all alive edges touching either of its endpoints joins the
    matching; alive edges sharing an endpoint with a winner drop. A
    matching is the disjoint-pairing primitive — here it pairs each
    entity with at most one strongest partner (dense-cluster thinning,
    conflict-free merge scheduling for ER).

    Output: one row per input edge — (ent_a, type_a, ent_b, type_b,
    status, round) with status 'matched' / 'dropped' and the deciding
    1-based round, or 'open' with round = ``rounds`` at the horizon
    (the fixed-round contract of the BFS family; the oracle unrolls
    identically).

    Scale shape: the edge table is persisted once; per round the
    endpoint-minimum table is ONE map-side-combining min-aggregate over
    2|E| (node-keyed), winners are two node-keyed equi-joins of the
    alive table against it (struct-equality filter — never an edge-edge
    self-join, which is the quadratic trap on hot nodes), drops are a
    semi-join against the node-sized matched-endpoint table, and the
    alive table SHRINKS geometrically (Israeli-Itai's theorem); state is
    checkpointed per round (the er.hits lineage rule)."""
    from unsupervised_ner_spark.ops.kgtrain import md5_int32

    ekey = F.concat_ws("|", "ent_a", "type_a", "ent_b", "type_b")
    alive = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("src"),
            F.concat_ws("|", "ent_b", "type_b").alias("dst"),
            ekey.alias("ekey"),
            md5_int32(ekey).alias("prio"),
        ),
        how="checkpoint",
    )
    out = None
    for r in range(1, int(rounds) + 1):
        pe = F.struct("prio", "ekey")
        nmin = (
            alive.select(F.col("src").alias("node"), pe.alias("pe"))
            .unionAll(alive.select(F.col("dst").alias("node"), pe.alias("pe")))
            .groupBy("node")
            .agg(F.min("pe").alias("mn"))
        )
        nmin = scoped_persist(nmin)
        win = scoped_persist(
            alive.join(
                nmin.select(F.col("node").alias("src"),
                            F.col("mn").alias("mn_s")),
                "src",
            )
            .join(
                nmin.select(F.col("node").alias("dst"),
                            F.col("mn").alias("mn_d")),
                "dst",
            )
            .filter((pe == F.col("mn_s")) & (pe == F.col("mn_d")))
            .select("src", "dst", "ekey")
        )
        mnodes = scoped_persist(
            win.select(F.col("src").alias("node"))
            .unionAll(win.select(F.col("dst").alias("node")))
        )
        rest = alive.join(win.select("ekey"), "ekey", "left_anti")
        dropped = (
            rest.join(
                mnodes.withColumnRenamed("node", "src").distinct(),
                "src", "left_semi",
            )
            .select("ekey")
            .unionAll(
                rest.join(
                    mnodes.withColumnRenamed("node", "dst").distinct(),
                    "dst", "left_semi",
                ).select("ekey")
            )
            .distinct()
        )
        decided = win.select(
            "ekey", F.lit("matched").alias("status"),
            F.lit(r).cast("long").alias("round"),
        ).unionByName(
            dropped.select(
                "ekey", F.lit("dropped").alias("status"),
                F.lit(r).cast("long").alias("round"),
            )
        )
        out = decided if out is None else out.unionByName(decided)
        alive = scoped_persist(
            alive.join(decided.select("ekey"), "ekey", "left_anti"),
            how="checkpoint",
        )
    out = out.unionByName(
        alive.select(
            "ekey", F.lit("open").alias("status"),
            F.lit(int(rounds)).cast("long").alias("round"),
        )
    )

    def part(j):
        return F.split(F.col("ekey"), r"\|")[j]

    return out.select(
        part(0).alias("ent_a"), part(1).alias("type_a"),
        part(2).alias("ent_b"), part(3).alias("type_b"),
        "status", "round",
    )


def bipartite_parity(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Distributed bipartiteness test with odd-cycle accounting — the
    2-coloring primitive: per connected component, BFS parity layers
    from the component's canonical ROOT (its CC min-label member — one
    deterministic seed per component, so parities never disagree across
    seeds), then an edge whose endpoints are BOTH reached at EQUAL
    parity certifies an odd cycle; a fully-reached component with zero
    such edges is certified 2-colorable. In the entity co-occurrence
    graph, bipartite islands are strictly-bridging discourse structures
    (entities never co-mentioned with their own "side"); odd components
    carry triangles.

    Output per component: (component, comp_size, n_reached, n_open,
    n_odd_edges, bipartite) — bipartite = 1 iff fully reached within
    the ``rounds`` horizon AND zero odd edges (the conservative
    fixed-round contract of the BFS family; the oracle unrolls
    identically).

    Scale shape: components come from the O(log n) star loop (shared,
    property-tested); the BFS is the standard frontier expansion — per
    round one edge-keyed equi-join against the frontier + one anti-join
    against the reached set, state checkpointed; the odd-edge check is
    two node-keyed equi-joins of the ORIGINAL (one-row-per-undirected-
    edge) table against the parity table; every aggregate map-side
    combines on component id."""
    e = scoped_persist(
        edges.select(
            F.concat_ws("|", "ent_a", "type_a").alias("a"),
            F.concat_ws("|", "ent_b", "type_b").alias("b"),
        ),
        how="checkpoint",
    )
    nodes = (
        e.select(F.col("a").alias("node_id"))
        .unionAll(e.select(F.col("b").alias("node_id")))
        .distinct()
    )
    labels, _iters = connected_components_star(nodes, e.select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b")
    ))
    labels = scoped_persist(labels, how="checkpoint")
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    dist = scoped_persist(
        labels.filter(F.col("node_id") == F.col("component")).select(
            F.col("node_id").alias("k"), F.lit(0).cast("long").alias("d")
        )
    )
    for r in range(1, int(rounds) + 1):
        frontier = dist.filter(F.col("d") == r - 1)
        nxt = (
            sym.join(frontier.withColumnRenamed("k", "src"), "src")
            .select(F.col("dst").alias("k"))
            .distinct()
            .join(dist.select("k"), "k", "left_anti")
            .select("k", F.lit(r).cast("long").alias("d"))
        )
        dist = scoped_persist(dist.unionAll(nxt), how="checkpoint")
    par = dist.select("k", (F.col("d") % 2).alias("par"))
    odd = (
        e.join(par.select(F.col("k").alias("a"), F.col("par").alias("pa")),
               "a")
        .join(par.select(F.col("k").alias("b"), F.col("par").alias("pb")),
              "b")
        .filter(F.col("pa") == F.col("pb"))
        .join(labels.select(F.col("node_id").alias("a"), "component"), "a")
        .groupBy("component")
        .agg(F.count("*").cast("long").alias("n_odd_edges"))
    )
    reach = (
        labels.join(par.withColumnRenamed("k", "node_id"), "node_id",
                    "left")
        .groupBy("component")
        .agg(
            F.count("*").cast("long").alias("comp_size"),
            F.sum(F.when(F.col("par").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_reached"),
        )
    )
    return (
        reach.join(odd, "component", "left")
        .select(
            "component", "comp_size", "n_reached",
            (F.col("comp_size") - F.col("n_reached")).alias("n_open"),
            F.coalesce("n_odd_edges", F.lit(0).cast("long"))
            .alias("n_odd_edges"),
            F.when(
                (F.col("comp_size") == F.col("n_reached"))
                & F.col("n_odd_edges").isNull(),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long").alias("bipartite"),
        )
    )


def type_inference(typed_mentions: DataFrame) -> DataFrame:
    """Distant-supervision type inference for NEVER-typed surfaces — the
    KG-completion step that assigns a candidate type to mentions the
    signature pass left as OTHER (reference parity: the reference emits
    OTHER/untagged for out-of-signature descriptors,
    batched_main_NER.py's untagged path; completing them from context is
    the engine-new extension): a surface that only ever tags OTHER
    corpus-wide receives the majority type of the TYPED entities it
    shares sentences with (deterministic tie-break: votes DESC, type
    ASC via the min-struct argmin — the entity_ambiguity device).

    Output: (ent, inferred_type, top_votes, n_votes, n_types_voted) —
    all integers/strings, hash-stable.

    Scale shape: both event tables are DISTINCT per-sentence aggregates
    (bounded by content, map-side combining); the "never typed anywhere"
    filter is an entity-keyed ANTI join between two bounded entity sets;
    the vote join is keyed on (url, sent_idx) — co-partitioned and
    sentence-local, never corpus-quadratic (the cooccurrence_edges
    posture); the vote aggregate and the per-entity argmin are two more
    cascaded bounded aggregates. No window, no broadcast of anything
    corpus-sized, no driver action."""
    norm = norm_surface_col(F.col("surface"))
    ev = typed_mentions.select(
        "url", "sent_idx",
        norm.alias("ent"), F.col("pred_group").alias("etype"),
    ).filter(F.length("ent") > 0)
    untyped = (
        ev.filter(F.col("etype") == "OTHER")
        .select("url", "sent_idx", "ent").distinct()
    )
    typed = (
        ev.filter(F.col("etype") != "OTHER")
        .select("url", "sent_idx", "ent", "etype").distinct()
    )
    never = untyped.select("ent").distinct().join(
        typed.select("ent").distinct(), "ent", "left_anti"
    )
    votes = (
        untyped.join(never, "ent")
        .join(
            typed.select(
                "url", "sent_idx",
                F.col("ent").alias("src_ent"), "etype",
            ),
            ["url", "sent_idx"],
        )
        .filter(F.col("src_ent") != F.col("ent"))
        .groupBy("ent", "etype")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top = F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("etype").alias("etype")))
    return (
        votes.groupBy("ent")
        .agg(
            F.sum("n").cast("long").alias("n_votes"),
            F.count("*").cast("long").alias("n_types_voted"),
            top.alias("top"),
        )
        .select(
            "ent",
            F.col("top.etype").alias("inferred_type"),
            (-F.col("top.neg_n")).cast("long").alias("top_votes"),
            "n_votes", "n_types_voted",
        )
    )


def graph_stats(edges: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """One-row graph health dashboard over the co-occurrence edge table —
    the summary a KG operator reads before trusting any downstream
    analytics: node/edge counts, density, max degree, and the EXACT
    integer Gini coefficient of the degree distribution (the skew signal
    that says whether hub salting is needed at all). Gini uses the
    sorted-rank identity G = (2*sum(i*d_i) - (n+1)*sum(d)) / (n*sum(d))
    with ranks over (deg ASC, node ASC) — tie order cannot change the
    sum because equal degrees commute — emitted as gini_ppm by integer
    division only; density_ppm = scale * sum_deg div (n * (n-1)) (sum_deg
    counts each edge twice, cancelling the 2 in n(n-1)/2).

    Scale shape: symmetrize (narrow union) -> ONE node-keyed degree
    aggregate (bounded by distinct entities) -> a DEGREE-CLASS histogram
    (bounded by distinct degree values). Because equal degrees commute in
    sum(i*d_i), the rank dot-product has the closed class form
    ``sum_d d*(n_d*o_d + n_d*(n_d+1)/2)`` (o_d = nodes with smaller
    degree), so the only ordered window is an exclusive prefix sum over
    the bounded histogram — the former per-NODE global rank window
    (node-sized, single partition) is gone (VERDICT r05 item 3). Zero-
    node/one-node guards keep ANSI division alive."""
    from pyspark.sql import Window

    sym = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("src")
    ).unionAll(edges.select(F.concat_ws("|", "ent_b", "type_b").alias("src")))
    deg = sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    hist = deg.groupBy("deg").agg(F.count("*").cast("long").alias("n_d"))
    w_excl = Window.orderBy("deg").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off = hist.withColumn(
        "o_d", F.coalesce(F.sum("n_d").over(w_excl), F.lit(0)).cast("long")
    )
    # sum of ranks within one degree class: n_d*o_d + n_d*(n_d+1)/2
    class_dot = (
        F.col("deg")
        * (F.col("n_d") * F.col("o_d")
           + F.expr("(n_d * (n_d + 1)) div 2"))
    ).cast("long")
    agg = off.agg(
        F.sum("n_d").cast("long").alias("n_nodes"),
        F.sum(F.col("deg") * F.col("n_d")).cast("long").alias("sum_deg"),
        F.max("deg").cast("long").alias("max_deg"),
        F.sum(class_dot).cast("long").alias("rank_dot"),
    )
    return agg.select(
        "n_nodes",
        F.expr("sum_deg div 2").cast("long").alias("n_edges"),
        "sum_deg", "max_deg",
        F.when(
            F.col("n_nodes") > 1,
            F.expr(f"{scale} * sum_deg div (n_nodes * (n_nodes - 1))"),
        ).otherwise(F.lit(0)).cast("long").alias("density_ppm"),
        F.when(
            (F.col("n_nodes") > 0) & (F.col("sum_deg") > 0),
            F.expr(
                f"(2 * rank_dot - (n_nodes + 1) * sum_deg) * {scale}"
                " div (n_nodes * sum_deg)"
            ),
        ).otherwise(F.lit(0)).cast("long").alias("gini_ppm"),
    )


def rich_club(edges: DataFrame, scale: int = 1_000_000) -> DataFrame:
    """Rich-club coefficient curve over the co-occurrence graph — the
    hub-wiring signal graph_stats' Gini cannot carry: for each degree
    threshold k (every distinct degree value), phi(k) = 2*E_k /
    (N_k*(N_k-1)) where N_k counts nodes with degree > k and E_k counts
    edges whose BOTH endpoints have degree > k (Colizza et al. 2006,
    un-normalized phi). A phi(k) that stays near 1 as k rises means the
    hubs form a near-clique among themselves — exactly the topology
    where hub-salting one side of a join is not enough because the hot
    keys also co-occur with EACH OTHER. Emitted as exact-integer
    phi_ppm (zero when N_k < 2, the guard row a dashboard still wants).

    Scale shape: ONE node-keyed degree aggregate (bounded by distinct
    entities); E_k never enumerates per-threshold edge sets — each edge
    contributes min(deg_a, deg_b) via two entity-keyed equi-joins
    against the bounded degree table, then collapses into a bounded
    min-degree histogram; since every min-degree IS a degree value, one
    left join + ONE ordered window over the bounded degree histogram
    yields the full cumulative curve (the bounded-histogram window
    precedent — never a window over edges)."""
    from pyspark.sql import Window

    e = edges.select(
        F.concat_ws("|", "ent_a", "type_a").alias("src"),
        F.concat_ws("|", "ent_b", "type_b").alias("dst"),
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("dst"), F.col("deg").alias("deg_b"))
    m_hist = (
        e.join(da, "src").join(db, "dst")
        .select(F.least("deg_a", "deg_b").alias("k"))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("edges_at"))
    )
    deg_hist = deg.groupBy(F.col("deg").alias("k")).agg(
        F.count("*").cast("long").alias("nodes_at")
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        deg_hist.join(m_hist, "k", "left")
        .select(
            "k", "nodes_at",
            F.coalesce("edges_at", F.lit(0)).cast("long").alias("edges_at"),
        )
        .select(
            "k",
            (F.sum("nodes_at").over(wall) - F.sum("nodes_at").over(w))
            .cast("long").alias("n_rich"),
            (F.sum("edges_at").over(wall) - F.sum("edges_at").over(w))
            .cast("long").alias("e_rich"),
        )
    )
    return cum.select(
        "k", "n_rich", "e_rich",
        F.when(
            F.col("n_rich") > 1,
            F.expr(f"2 * e_rich * {scale} div (n_rich * (n_rich - 1))"),
        ).otherwise(F.lit(0)).cast("long").alias("phi_ppm"),
    )


def bowtie_classes(
    directed: DataFrame,
    inner_rounds: int = 3,
    outer_rounds: int = 2,
    reach_rounds: int = 6,
) -> DataFrame:
    """Bow-tie decomposition of a directed graph (Broder et al., WWW 2000,
    "Graph structure in the Web") — the macro-structure census every
    web-crawl corpus audit starts from: CORE = the largest SCC, IN =
    nodes that reach CORE, OUT = nodes CORE reaches, OTHER = tendrils /
    tubes / disconnected, collapsed into one class (the 4-class variant;
    the full 6-class split needs tendril-side reachability products this
    table derives trivially).

    Classes per node (deterministic): 'core' (member of the largest
    resolved SCC — size DESC, scc_id ASC tie-break), 'in' (backward-
    reachable to CORE within ``reach_rounds`` BFS rounds, not core),
    'out' (forward-reachable from CORE, not core), 'loop' (both — only
    possible when the SCC horizon under-resolved mutual reachability;
    empty on a fully resolved graph, kept so the horizon artifact is
    VISIBLE rather than silently folded), 'other' (neither).

    Scale shape: scc_coloring's bounded-round plan, then a components-
    bounded size aggregate topped by a 1-row sort (the broadcastable CORE
    id), then two frontier BFS sweeps of ``reach_rounds`` rounds each —
    per round ONE edge-keyed equi-join against the visited set plus one
    distinct, visited checkpointed per round (the BFS lineage rule).
    Nothing corpus-quadratic; the visited set is node-bounded. The DuckDB
    twin unrolls the identical rounds, so the horizon semantics agree
    exactly."""
    comp = scoped_persist(
        scc_coloring(directed, inner_rounds, outer_rounds), how="checkpoint"
    )
    sizes = (
        comp.filter(F.col("status") == "scc")
        .groupBy("scc_id")
        .agg(F.count("*").cast("long").alias("n"))
    )
    top = (
        sizes.orderBy(F.col("n").desc(), F.col("scc_id").asc())
        .limit(1)
        .select("scc_id")
    )
    core = scoped_persist(
        comp.join(F.broadcast(top), "scc_id").select(F.col("node").alias("k")),
        how="checkpoint",
    )
    edges = scoped_persist(
        directed.select("src", "dst").distinct(), how="checkpoint"
    )
    fwd = core
    for _ in range(int(reach_rounds)):
        step = (
            edges.join(fwd.withColumnRenamed("k", "src"), "src")
            .select(F.col("dst").alias("k"))
        )
        fwd = scoped_persist(
            fwd.unionByName(step).distinct(), how="checkpoint"
        )
    back = core
    for _ in range(int(reach_rounds)):
        step = (
            edges.join(back.withColumnRenamed("k", "dst"), "dst")
            .select(F.col("src").alias("k"))
        )
        back = scoped_persist(
            back.unionByName(step).distinct(), how="checkpoint"
        )
    nodes = (
        edges.select(F.col("src").alias("k"))
        .unionAll(edges.select(F.col("dst").alias("k")))
        .distinct()
    )
    flagged = (
        nodes.join(core.withColumn("is_core", F.lit(1)), "k", "left")
        .join(fwd.withColumn("in_fwd", F.lit(1)).distinct(), "k", "left")
        .join(back.withColumn("in_back", F.lit(1)).distinct(), "k", "left")
    )
    cls = (
        F.when(F.col("is_core") == 1, F.lit("core"))
        .when((F.col("in_back") == 1) & (F.col("in_fwd") == 1), F.lit("loop"))
        .when(F.col("in_back") == 1, F.lit("in"))
        .when(F.col("in_fwd") == 1, F.lit("out"))
        .otherwise(F.lit("other"))
    )
    return flagged.select(F.col("k").alias("node"), cls.alias("cls"))


def rpq_two_step(triples: DataFrame, max_hops: int = 8) -> DataFrame:
    """Regular path query ``p / q*`` over the (subj, pred, obj) triple
    table — the SPARQL 1.1 property-path workhorse (one mandatory
    ``p``-step, then the Kleene closure of ``q``), with the two
    predicates chosen FROM THE DATA as the most and second-most frequent
    predicates (count DESC, pred ASC — both engines derive the identical
    pair, no fixture constants).

    Returns (src, dst, q_hops): q_hops = number of ``q``-steps on the
    SHORTEST qualifying path (0 = the bare p-edge), capped at
    ``max_hops`` (the taxonomy_closure bound — well-defined on cyclic
    graphs, and the doubling rounds and the oracle's depth-capped
    RECURSIVE CTE agree exactly on min-hops).

    Scale shape: the predicate ranking is a predicate-bounded aggregate
    consumed as two broadcastable 1-row filters; the q-closure is
    iterative min-plus DOUBLING — ceil(log2(max_hops)) self-join rounds,
    each one equi-join + min-combining aggregate over a closure-bounded
    (never corpus-sized) distance table, checkpointed per round; the
    final composition is ONE equi-join of p-edges with the closure on the
    middle node plus a min aggregate."""
    from pyspark.sql import Window

    pc = triples.groupBy("pred").agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pred").asc())
    ranked = pc.select("pred", F.row_number().over(w).alias("rnk"))
    p_pred = ranked.filter(F.col("rnk") == 1).select("pred")
    q_pred = ranked.filter(F.col("rnk") == 2).select("pred")
    pe = scoped_persist(
        triples.join(F.broadcast(p_pred), "pred")
        .select(F.col("subj").alias("src"), F.col("obj").alias("mid"))
        .filter(F.col("src") != F.col("mid"))
        .distinct(),
        how="checkpoint",
    )
    qe = (
        triples.join(F.broadcast(q_pred), "pred")
        .select(F.col("subj").alias("a"), F.col("obj").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .withColumn("hops", F.lit(1).cast("long"))
    )
    dist = scoped_persist(qe, how="checkpoint")
    rounds = max(1, (int(max_hops) - 1).bit_length())
    for _ in range(rounds):
        x = dist.select("a", F.col("b").alias("m"), F.col("hops").alias("h1"))
        y = dist.select(F.col("a").alias("m"), "b", F.col("hops").alias("h2"))
        step = (
            x.join(y, "m")
            .select("a", "b", (F.col("h1") + F.col("h2")).alias("hops"))
            .filter(F.col("hops") <= int(max_hops))
        )
        dist = scoped_persist(
            dist.unionByName(step)
            .groupBy("a", "b")
            .agg(F.min("hops").cast("long").alias("hops")),
            how="checkpoint",
        )
    dist = dist.filter(F.col("a") != F.col("b"))
    via_q = (
        pe.join(dist.withColumnRenamed("a", "mid"), "mid")
        .select("src", F.col("b").alias("dst"), "hops")
    )
    bare = pe.select("src", F.col("mid").alias("dst"), F.lit(0).cast("long").alias("hops"))
    return (
        bare.unionByName(via_q)
        .groupBy("src", "dst")
        .agg(F.min("hops").cast("long").alias("q_hops"))
    )


def simrank_two_iter(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """SimRank, two exact synchronous iterations (Jeh & Widom KDD'02) over
    the directed triple graph — "two nodes are similar if their
    in-neighbors are similar": the structural-equivalence complement of
    katz_index/link_prediction (which score CONNECTION, not ROLE; SimRank
    scores substitutability — two drugs cited by the same papers, two
    entities with the same incoming predicates). s_0 = identity;
    s_1(a,b) = C*|I(a) n I(b)| / (|I(a)||I(b)|);
    s_2(a,b) = C/(|I(a)||I(b)|) * sum_{i in I(a), j in I(b)} s_1(i,j).

    Exact integer contract (C = 0.8): s1_ppm = (800000*w) div (da*db);
    the s_2 numerator t_sum = sum of s1full_ppm over in-neighbor pairs
    (diagonal s_1(v,v) = 1e6 included) is an exact BIGINT, and
    s2_ppm = (4*t_sum) div (5*da*db) — the 4/5 factoring keeps every
    intermediate below 2^63 even at the 4096 degree cap (800000*t_sum
    would not). Both engines replay the identical integer arithmetic.

    Scale shape: all-pairs SimRank is the textbook quadratic blow-up, so
    every RELAY role is gated by the shared corpus-adaptive
    clamp(icbrt_ceil(|E|), 16, 4096) OUT-degree cap (the katz posture;
    endpoint in-degrees stay exact and uncapped): the s_1 wedge join
    relays through common in-neighbors z, and the s_2 extension relays
    each s_1 pair (i, j) to (a, b) through i's and j's capped out-edges —
    bounded by cap^2 * |s_1|, never corpus-quadratic. The out-adjacency
    is persisted once (degree aggregate + three join roles); the s_1
    pair table is persisted once (its own output column + the s_2 join)."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    adj = scoped_persist(
        edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if max_degree is None:
        max_degree = max(16, min(4096, icbrt_ceil(max(adj.count(), 1))))
    outdeg = adj.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    ok = outdeg.filter(F.col("od") <= max_degree).select(
        F.col("src").alias("relay")
    )
    a_ok = adj.join(ok, adj["src"] == ok["relay"]).select("src", "dst")
    indeg = adj.groupBy("dst").agg(F.count("*").cast("long").alias("ideg"))
    # s_1 wedge: common in-neighbors z (capped) of the unordered pair.
    w1 = (
        a_ok.select(F.col("src").alias("z"), F.col("dst").alias("i"))
        .join(
            a_ok.select(F.col("src").alias("z"), F.col("dst").alias("j")),
            "z",
        )
        .filter(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count("*").cast("long").alias("w"))
    )
    s1 = scoped_persist(
        w1.join(indeg.select(F.col("dst").alias("i"),
                             F.col("ideg").alias("di")), "i")
        .join(indeg.select(F.col("dst").alias("j"),
                           F.col("ideg").alias("dj")), "j")
        .select(
            "i", "j",
            F.expr("800000 * w div (di * dj)").cast("long").alias("s1_ppm"),
        )
    )
    diag = adj.select(F.col("src").alias("i")).distinct().join(
        ok, F.col("i") == ok["relay"]
    ).select("i", F.col("i").alias("j"),
             F.lit(1_000_000).cast("long").alias("s1_ppm"))
    s1full = (
        s1.unionByName(s1.select(F.col("j").alias("i"), F.col("i").alias("j"),
                                 "s1_ppm"))
        .unionByName(diag)
    )
    # s_2 extension: (i -> a), s1full(i, j), (j -> b), a < b.
    t = (
        s1full
        .join(a_ok.select(F.col("src").alias("i"), F.col("dst").alias("a")),
              "i")
        .join(a_ok.select(F.col("src").alias("j"), F.col("dst").alias("b")),
              "j")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum("s1_ppm").cast("long").alias("t_sum"))
    )
    own = s1.select(F.col("i").alias("a"), F.col("j").alias("b"),
                    F.col("s1_ppm").alias("own_s1_ppm"))
    return (
        t.join(indeg.select(F.col("dst").alias("a"),
                            F.col("ideg").alias("indeg_a")), "a")
        .join(indeg.select(F.col("dst").alias("b"),
                           F.col("ideg").alias("indeg_b")), "b")
        .join(own, ["a", "b"], "left")
        .select(
            F.col("a").alias("node_a"), F.col("b").alias("node_b"),
            "indeg_a", "indeg_b", "t_sum",
            F.coalesce("own_s1_ppm", F.lit(0)).cast("long").alias("s1_ppm"),
            F.expr("4 * t_sum div (5 * indeg_a * indeg_b)")
            .cast("long").alias("s2_ppm"),
        )
    )


def temporal_paths(tfacts: DataFrame, max_mid_degree: int | None = None) -> DataFrame:
    """Time-respecting two-hop reachability over the temporal fact table
    (Kempe, Kleinberg & Kumar STOC'00 temporal-path semantics): a -> b
    asserted at t1 composes with b -> c asserted at t2 ONLY when
    t2 >= t1 — the knowledge-propagation question ("what could be
    inferred from facts in the order the crawl learned them") that the
    static ``paths_2hop`` cannot ask. Input is ``triples_temporal``
    output (one row per typed predicate edge with first_seen); edges
    first collapse to one row per (subj, obj) with the EARLIEST
    assertion epoch, so multi-predicate parallel edges never multiply
    the wedge count.

    Output: one row per ordered (src, dst) pair reachable in exactly two
    time-respecting hops — path count, distinct eligible middles,
    earliest arrival (min t2 over valid paths), minimum wait
    (min t2 - t1), and the ``paths_2hop`` cycle flag.

    Scale shape: the collapsed edge table is persisted once and feeds
    both degree aggregates and both join sides; middles are gated by the
    shared corpus-adaptive cube-root degree cap (in- AND out-degree <=
    clamp(icbrt_ceil(n_edges), 16, 4096)) so a hub can never quadratically
    explode the wedge join; the join itself is an equi-join on the middle
    id with the time predicate applied as a post-join filter (never a
    range-join plan); one bounded aggregate finishes."""
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    edges = scoped_persist(
        tfacts.groupBy("subj", "obj").agg(
            F.min("first_seen").cast("long").alias("ts")
        )
    )
    if max_mid_degree is None:
        max_mid_degree = max(16, min(4096, icbrt_ceil(max(edges.count(), 1))))
    out_deg = edges.groupBy("subj").agg(F.count("*").cast("long").alias("out_deg"))
    in_deg = edges.groupBy("obj").agg(F.count("*").cast("long").alias("in_deg"))
    mids = (
        out_deg.join(in_deg, out_deg["subj"] == in_deg["obj"])
        .filter(
            (F.col("out_deg") <= max_mid_degree)
            & (F.col("in_deg") <= max_mid_degree)
        )
        .select(F.col("subj").alias("mid_ok"))
    )
    e1 = edges.select(
        F.col("subj").alias("src"), F.col("obj").alias("mid"),
        F.col("ts").alias("t1"),
    )
    e2 = edges.select(
        F.col("subj").alias("mid2"), F.col("obj").alias("dst"),
        F.col("ts").alias("t2"),
    )
    return (
        e1.join(mids, e1["mid"] == mids["mid_ok"])
        .join(e2, F.col("mid") == F.col("mid2"))
        .filter(F.col("t2") >= F.col("t1"))
        .groupBy("src", "dst")
        .agg(
            F.count("*").cast("long").alias("n_paths"),
            F.countDistinct("mid").cast("long").alias("n_mids"),
            F.min("t2").cast("long").alias("earliest_arrival"),
            F.min(F.col("t2") - F.col("t1")).cast("long").alias("min_wait"),
        )
        .select(
            "src", "dst", "n_paths", "n_mids", "earliest_arrival",
            "min_wait",
            F.when(F.col("src") == F.col("dst"), F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("is_cycle"),
        )
    )


def bcubed_score(assignments: DataFrame) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (Bagga & Baldwin '98; the
    ER-community standard per Amigo et al. '09 — pairwise F ignores
    singletons, purity ignores over-merging; B3 punishes both): given
    (item, pred, truth) labels, per-item precision = |C(i) n T(i)| /
    |C(i)| and recall = |C(i) n T(i)| / |T(i)|, averaged over items.
    Output is ONE row: n_items + precision/recall/F1 in ppm, every
    division the documented TRUNCATING integer ``div`` (toward zero —
    Spark ``div`` and DuckDB ``//`` agree; all operands here are
    non-negative, where truncation equals floor; per-item ppm cuts, then
    the averaged cut; F1 = 2PR div (P+R) on the ppm scale) replayed
    identically by the oracle.

    Scale shape: items collapse once into the (pred, truth) contingency
    cells (bounded by cluster structure, persisted); sizes and both sums
    are bounded re-aggregations; the per-item sum folds into
    sum(n_ct * item_ppm) because items in a cell share both labels."""
    cells = scoped_persist(
        assignments.groupBy("pred", "truth").agg(
            F.count("*").cast("long").alias("n_ct")
        )
    )
    pc = cells.groupBy("pred").agg(F.sum("n_ct").cast("long").alias("n_c"))
    tc = cells.groupBy("truth").agg(F.sum("n_ct").cast("long").alias("n_t"))
    tot = cells.agg(F.sum("n_ct").cast("long").alias("n_items"))
    pnum = cells.join(pc, "pred").agg(
        F.sum(F.expr("n_ct * (n_ct * 1000000 div n_c)"))
        .cast("long").alias("pnum")
    )
    rnum = cells.join(tc, "truth").agg(
        F.sum(F.expr("n_ct * (n_ct * 1000000 div n_t)"))
        .cast("long").alias("rnum")
    )
    return (
        tot.crossJoin(F.broadcast(pnum))
        .crossJoin(F.broadcast(rnum))
        .select(
            "n_items",
            F.expr("pnum div n_items").cast("long")
            .alias("b3_precision_ppm"),
            F.expr("rnum div n_items").cast("long").alias("b3_recall_ppm"),
        )
        .select(
            "n_items", "b3_precision_ppm", "b3_recall_ppm",
            F.expr(
                "2 * b3_precision_ppm * b3_recall_ppm"
                " div (b3_precision_ppm + b3_recall_ppm)"
            ).cast("long").alias("b3_f1_ppm"),
        )
    )


def shacl_cardinality(
    facts: DataFrame, shapes: list[tuple[str, int]]
) -> DataFrame:
    """SHACL-style cardinality validation (sh:maxCount) of a fact table
    against DECLARED per-predicate shapes — the KG data-quality gate
    beside predicate_functionality's measured profile: functionality
    MEASURES what the data does, this operator VALIDATES it against
    what the schema owner asserted, producing the violation report an
    ingest pipeline blocks on. Input facts (subj, pred, obj) are
    collapsed to distinct triples first (re-observations are not extra
    values); output is one row per (subj, pred) with its distinct
    object count, the declared cap, the verdict, and the excess.

    Scale shape: one two-level distinct aggregate (triple -> (subj,
    pred) count, no count-distinct Expand), then a broadcast join of
    the shapes literal (bytes). Predicates without a declared shape are
    dropped — unconstrained, nothing to validate."""
    shape_df = facts.sparkSession.createDataFrame(
        [(p, int(c)) for p, c in shapes], "pred string, max_card long"
    )
    per = (
        facts.select("subj", "pred", "obj").distinct()
        .groupBy("subj", "pred")
        .agg(F.count("*").cast("long").alias("n_objs"))
    )
    return per.join(F.broadcast(shape_df), "pred").select(
        "subj", "pred", "n_objs", "max_card",
        F.when(F.col("n_objs") > F.col("max_card"), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("is_violation"),
        F.greatest(
            F.col("n_objs") - F.col("max_card"), F.lit(0)
        ).cast("long").alias("excess"),
    )


def louvain_move(edges: DataFrame, iterations: int = 4) -> DataFrame:
    """One synchronized Louvain move phase (Blondel et al. 2008) over the
    LPA partition — the modularity-OPTIMIZING refinement beside
    label_propagation's plurality vote: every node evaluates moving into
    each neighbouring community against staying, using the EXACT-integer
    comparison form of the Louvain gain. For fixed node i with degree
    k_i, candidate community c scores ``2m*k_ic - k_i*tot'(c)`` (m =
    undirected edge count, k_ic = i's edges into c, tot'(c) = summed
    degree of c minus k_i when c is i's own community — the standard
    "remove i first" correction); scaled by 2m^2 this IS the Louvain
    delta-Q ordering, so argmax((score DESC, community ASC)) with a
    strict > against the stay score is the deterministic move decision —
    bit-replayable in DuckDB (classic Louvain's node-order dependence is
    exactly what the synchronous evaluation removes). int64 headroom:
    2m*k_ic <= 2m*k_i; safe while m*max_degree < 4.6e18 (a 1e12-edge
    corpus with 1e6-degree hubs; beyond that, scale counts down before
    scoring).

    Output per node: ent, etype, old community, proposed community,
    moved flag, and the gain (score_best - score_stay, the 2m^2-scaled
    delta-Q numerator; 0 when staying).

    Scale shape: the LPA rounds (see label_propagation), then ONE
    adjacency x label equi-join into a (node, neighbour-community)
    aggregate — bounded by the edge count, map-side-combining — one
    community-keyed degree aggregate (community-sized), a broadcast of
    the one-row m, and a per-node argmax window whose partition is the
    node's neighbouring-community histogram (degree-bounded, the LPA
    vote's own skew exposure). Labels and degrees are persisted once and
    reused across the three consumers."""
    from pyspark.sql import Window

    sym, labels = _lpa_labels(edges, iterations)
    memb = scoped_persist(labels)
    deg = scoped_persist(
        sym.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
    )
    # m from the PERSISTED symmetrized adjacency (|sym| = 2|edges| exactly —
    # the unionAll doubles every row), not from the raw ``edges`` input: the
    # latter replayed the whole upstream typed-mention/co-occurrence chain
    # just to count it (round-6, guide §2.4/§5 recompute audit)
    m = sym.agg(F.expr("CAST(count(*) div 2 AS BIGINT)").alias("m"))
    # i's edges into each neighbouring community
    k_ic = (
        sym.join(memb.select(F.col("k").alias("dst"), "lbl"), "dst")
        .groupBy("src", "lbl")
        .agg(F.count("*").cast("long").alias("k_ic"))
    )
    # community total degree
    tot = (
        memb.join(deg.select(F.col("src").alias("k"), "deg"), "k")
        .groupBy("lbl")
        .agg(F.sum("deg").cast("long").alias("tot"))
    )
    own = memb.select(F.col("k").alias("src"), F.col("lbl").alias("own_lbl"))
    # candidate set = neighbouring communities U {own}; the own row is
    # injected with k_ic=0 and folded by max() (dominated when real)
    cand = (
        k_ic.unionByName(
            own.select("src", F.col("own_lbl").alias("lbl"),
                       F.lit(0).cast("long").alias("k_ic"))
        )
        .groupBy("src", "lbl")
        .agg(F.max("k_ic").cast("long").alias("k_ic"))
    )
    scored = (
        cand.join(own, "src")
        .join(deg, "src")
        .join(tot, "lbl")
        .crossJoin(F.broadcast(m))
        .select(
            "src", "lbl", "own_lbl", "k_ic",
            (
                2 * F.col("m") * F.col("k_ic")
                - F.col("deg")
                * (F.col("tot")
                   - F.when(F.col("lbl") == F.col("own_lbl"), F.col("deg"))
                   .otherwise(F.lit(0)))
            ).cast("long").alias("score"),
        )
    )
    # round-6 (guide §2.4/§5): best AND stay come out of ONE windowed pass —
    # both windows share partitionBy(src), so the stay score (the own-
    # community row's score, unique per src) rides the same exchange+sort as
    # the argmax instead of a second full evaluation of the unpersisted
    # ``scored`` subtree (k_ic aggregate + 3 joins) plus a join to re-attach
    # it. Same rows, same values; one Window exchange, zero re-compute.
    wn = Window.partitionBy("src").orderBy(F.desc("score"), F.asc("lbl"))
    wsrc = Window.partitionBy("src")
    out = (
        scored.withColumn("rn", F.row_number().over(wn))
        .withColumn(
            "stay_score",
            F.max(
                F.when(F.col("lbl") == F.col("own_lbl"), F.col("score"))
            ).over(wsrc),
        )
        .filter(F.col("rn") == 1)
        .select("src", "own_lbl", F.col("lbl").alias("best_lbl"),
                F.col("score").alias("best_score"), "stay_score")
    ).select(
        "src", "own_lbl", "best_lbl", "best_score", "stay_score",
        F.when(
            (F.col("best_lbl") != F.col("own_lbl"))
            & (F.col("best_score") > F.col("stay_score")),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long").alias("moved"),
    )

    def part(j):
        return F.split(F.col("src"), r"\|")[j]

    return out.select(
        part(0).alias("ent"), part(1).alias("etype"),
        F.col("own_lbl").alias("community"),
        F.when(F.col("moved") == 1, F.col("best_lbl"))
        .otherwise(F.col("own_lbl")).alias("proposed"),
        "moved",
        F.when(F.col("moved") == 1,
               F.col("best_score") - F.col("stay_score"))
        .otherwise(F.lit(0)).cast("long").alias("gain_x2m2"),
    )


def blocking_quality(
    cand: DataFrame, truth: DataFrame, n_items: int
) -> DataFrame:
    """Blocking-stage scorecard (pairs completeness / pairs quality /
    reduction ratio — Christen 2012, the ER-blocking standard): B-cubed
    grades the final CLUSTERS; this grades the CANDIDATE-PAIR stage the
    clusters are built from, the knob a blocking re-tune actually moves.
    Given candidate pairs and truth pairs (both (doc_a < doc_b)) over
    ``n_items`` records: PC = hit/truth (blocking recall), PQ = hit/cand
    (blocking precision), RR = 1 - cand/(n*(n-1)/2) — all exact ppm
    floors. int64 headroom: cand*1e6 overflows past ~9.2e12 candidate
    pairs; a corpus that large scores per-shard first.

    Scale shape: the candidate table is persisted once (it feeds the
    count AND the semi-join); the truth intersection is one equi-join on
    the pair key; every output is an O(1) single-row combine by
    broadcast."""
    c = scoped_persist(cand.select("doc_a", "doc_b"))
    n_cand = c.agg(F.count("*").cast("long").alias("n_cand"))
    n_truth = truth.agg(F.count("*").cast("long").alias("n_truth"))
    n_hit = (
        c.join(truth, ["doc_a", "doc_b"], "left_semi")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    total = int(n_items) * (int(n_items) - 1) // 2
    return (
        n_cand.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(int(n_items)).cast("long").alias("n_docs"),
            "n_cand", "n_truth", "n_hit",
            F.expr("n_hit * 1000000 div n_truth").cast("long")
            .alias("pc_ppm"),
            F.expr("CASE WHEN n_cand = 0 THEN 0 "
                   "ELSE n_hit * 1000000 div n_cand END").cast("long")
            .alias("pq_ppm"),
            F.expr(f"1000000 - n_cand * 1000000 div {total}")
            .cast("long").alias("rr_ppm"),
        )
    )


def chain_audit(clusters: DataFrame, pairs: DataFrame) -> DataFrame:
    """Transitive over-merge audit of the dedup clusters (the hash-
    chaining hazard Lee et al. 2022 §4 flag: connected components glue
    A-B and B-C into {A,B,C} even when A and C share nothing): per
    cluster of >= 2 docs, the DIRECT LSH pair count, the exact pair-
    completeness ppm 2*direct / (n*(n-1)), and the is_chained flag
    (completeness < 1) marking clusters held together only by
    transitivity — the review queue before deleting "duplicates" that
    were never compared.

    Scale shape: the membership is persisted once (both the size
    aggregate and the pair re-key read it); pairs re-key through ONE
    doc-keyed equi-join (pair endpoints are same-cluster by CC
    construction, so keying doc_a suffices); everything downstream is
    bounded by the cluster count."""
    memb = scoped_persist(clusters.select("doc_id", "cluster_id"))
    per = (
        memb.groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    direct = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .join(memb, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count("*").cast("long").alias("n_direct"))
    )
    return (
        per.join(direct, "cluster_id", "left")
        .select(
            "cluster_id", "n_docs",
            F.coalesce("n_direct", F.lit(0)).cast("long").alias("n_direct"),
            F.expr(
                "2 * coalesce(n_direct, 0) * 1000000"
                " div (n_docs * (n_docs - 1))"
            ).cast("long").alias("completeness_ppm"),
        )
        .select(
            "cluster_id", "n_docs", "n_direct", "completeness_ppm",
            F.when(F.col("completeness_ppm") < 1_000_000, F.lit(1))
            .otherwise(F.lit(0)).cast("long").alias("is_chained"),
        )
    )


def fs_em_round(features: DataFrame, ratio: int = 4) -> DataFrame:
    """One EM-style re-estimation of the Fellegi-Sunter weights — the
    step that completes the FS story (seed rule -> pattern regions ->
    re-estimated per-feature statistics): pairs are RELABELLED by their
    agreement pattern's decision region (link = match, nonlink =
    non-match, the 'possible' region abstains and is excluded from the
    M-step, the standard EM treatment of unlabeled mass), and the
    per-feature m/u sufficient statistics are recomputed under the new
    labels. Comparing this table against fs_weights (the rule-seeded
    statistics) shows exactly how much the pattern-level evidence moves
    each feature's m/u away from the seed — convergence monitoring for
    the full EM loop.

    Scale shape: the binarized pair table is persisted once (it feeds
    the pattern aggregate AND the M-step); the pattern table is <= 2^4
    rows and broadcasts back onto the pairs; the M-step is the same
    bounded 4-row aggregate fs_weights runs."""
    lab = scoped_persist(_fs_agreement(features))
    pat = F.concat(
        F.col("f_tok").cast("string"), F.col("f_jac").cast("string"),
        F.col("f_len").cast("string"), F.col("f_pre2").cast("string"),
    )
    r = int(ratio)
    regions = (
        lab.groupBy(pat.alias("pattern"))
        .agg(
            F.sum("m").cast("long").alias("n_match"),
            F.sum(1 - F.col("m")).cast("long").alias("n_nonmatch"),
        )
        .select(
            "pattern",
            F.when(
                F.col("n_match") >= r * F.col("n_nonmatch"), F.lit(1)
            )
            .when(
                F.col("n_nonmatch") >= r * F.col("n_match"), F.lit(0)
            )
            .otherwise(F.lit(-1)).cast("long").alias("em_label"),
        )
    )
    relab = (
        lab.withColumn("pattern", pat)
        .join(F.broadcast(regions), "pattern")
        .filter(F.col("em_label") >= 0)
    )
    stacked = relab.select(
        F.col("em_label").alias("m"),
        F.expr(
            "stack(4, 'tok_overlap', f_tok, 'shingle_jaccard', f_jac,"
            " 'len_diff_le1', f_len, 'prefix2_eq', f_pre2)"
            " AS (feature, agree)"
        ),
    )
    return stacked.groupBy("feature").agg(
        F.sum("m").cast("long").alias("n_match"),
        F.sum(F.col("m") * F.col("agree")).cast("long").alias("n_match_agree"),
        F.sum(1 - F.col("m")).cast("long").alias("n_nonmatch"),
        F.sum((1 - F.col("m")) * F.col("agree")).cast("long")
        .alias("n_nonmatch_agree"),
        F.count("*").cast("long").alias("n_labeled"),
    )
