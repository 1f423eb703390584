"""Predicate extraction: typed mentions -> (subj, pred, obj) candidate
triples (new per north rule; SURVEY.md §7.1 stage 5).

Semantics: within one sentence, each ADJACENT pair of typed mentions (both
predictions != OTHER) yields one triple. The predicate is the lowercased
join of the tokens strictly between the two spans; an empty gap (adjacent
spans are impossible by run-maximality, but a gap of pure punctuation isn't)
falls back to 'related_to'.

``pred_norm`` (VERDICT r04 item 5) is the KG-schema-induction form of the
predicate: the same gap tokens with English stopwords stripped and the
token count capped at PRED_NORM_MAX_TOKENS, falling back to 'related_to'
when nothing survives — so a stopword-only gap ("of", "and") no longer
leaks the raw function word as a predicate label. The stopword list is the
shared ``EN_STOPWORDS`` (ops/textstats.py) that the DuckDB oracle inlines,
keeping both engines byte-identical.

Implemented as pure column expressions over the nested tagged rows — still
narrow / zero-shuffle; the exchange only appears when triples feed ER.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from unsupervised_ner_spark.ops.textstats import EN_STOPWORDS

PRED_NORM_MAX_TOKENS = 4


def tagged_to_triples(tagged: DataFrame) -> DataFrame:
    """tagged (pipeline/tagging.TAGGED_SCHEMA or TAGGED_SCHEMA_SLIM) ->
    triples(url, sent_idx, subj, subj_type, pred, pred_norm, obj, obj_type,
    conf)."""
    ms = F.filter(F.col("mentions"), lambda m: m["prediction"] != F.lit("OTHER"))
    n = F.size(ms)
    words = F.col("words")

    def pair_at(i):
        m1 = F.element_at(ms, i + 1)
        m2 = F.element_at(ms, i + 2)
        gap = F.transform(
            F.slice(
                words,
                m1["end_tok"] + 2,
                F.greatest(m2["begin_tok"] - m1["end_tok"] - 1, F.lit(0)),
            ),
            lambda t: F.lower(t),
        )
        gap_toks = F.filter(gap, lambda t: t.rlike("[a-z0-9]"))
        pred = F.array_join(gap_toks, " ")
        norm = F.array_join(
            F.slice(
                F.filter(gap_toks, lambda t: ~t.isin(*EN_STOPWORDS)),
                1,
                PRED_NORM_MAX_TOKENS,
            ),
            " ",
        )
        return F.struct(
            m1["surface"].alias("subj"),
            F.split(m1["prediction"], r"\[")[0].alias("subj_type"),
            F.when(pred == "", F.lit("related_to")).otherwise(pred).alias("pred"),
            F.when(norm == "", F.lit("related_to")).otherwise(norm).alias("pred_norm"),
            m2["surface"].alias("obj"),
            F.split(m2["prediction"], r"\[")[0].alias("obj_type"),
            m1["conf"].alias("subj_conf"),
            m2["conf"].alias("obj_conf"),
        )

    pairs = F.when(
        n >= 2, F.transform(F.sequence(F.lit(0), n - 2), pair_at)
    ).otherwise(F.array().cast("array<struct<subj:string,subj_type:string,pred:string,pred_norm:string,obj:string,obj_type:string,subj_conf:double,obj_conf:double>>"))

    df = tagged.select("url", "sent_idx", F.explode(pairs).alias("t"))
    return df.select(
        "url",
        "sent_idx",
        F.col("t.subj").alias("subj"),
        F.col("t.subj_type").alias("subj_type"),
        F.col("t.pred").alias("pred"),
        F.col("t.pred_norm").alias("pred_norm"),
        F.col("t.obj").alias("obj"),
        F.col("t.obj_type").alias("obj_type"),
        F.least("t.subj_conf", "t.obj_conf").alias("conf"),
    )


def predicate_histogram(triples: DataFrame, top_k: int = 10) -> DataFrame:
    """Top normalized predicates per (subj_type, obj_type) — the KG-schema
    induction primitive (VERDICT r04 item 5): which relations connect each
    entity-type pair, ranked by support.

    Scale shape: ONE map-side-combining hash aggregate over the triple
    table, then a per-type-pair window over the aggregated histogram —
    whose size is bounded by distinct (type pair, predicate string)
    combinations, not corpus size, so the window never sees corpus-scale
    input. Rank ties are impossible within a partition (pred_norm is a
    group key; order is n_triples DESC, pred_norm ASC), so the output is
    deterministic and hash-gateable."""
    from pyspark.sql import Window

    hist = triples.groupBy("subj_type", "obj_type", "pred_norm").agg(
        F.count("*").cast("long").alias("n_triples"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )
    w = Window.partitionBy("subj_type", "obj_type").orderBy(
        F.desc("n_triples"), F.asc("pred_norm")
    )
    return hist.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= top_k
    )


def triples_temporal(triples_with_ts: DataFrame) -> DataFrame:
    """Temporal fact table: collapse observed triples carrying a page
    timestamp (``obs_ts``, epoch seconds — warc_ts in the north-rule page
    schema) into one row per (subj, subj_type, pred_norm, obj, obj_type)
    with first_seen/last_seen epochs, observation / page / distinct-day
    counts — the SCD-style versioned edge the KG serves.

    Scale shape: TWO-LEVEL aggregate. Level 1 collapses to (triple, url)
    — the page stream partially aggregates map-side, and since obs_ts is
    a function of the page, day dedup after level 1 is exact. Level 2
    then needs only ONE distinct (obs_day), avoiding the double-distinct
    Expand (x2 row blowup) a single groupBy with two count(DISTINCT)s
    would plan at 100 TB.
    """
    per_page = triples_with_ts.groupBy(
        "subj", "subj_type", "pred_norm", "obj", "obj_type", "url"
    ).agg(
        F.count("*").alias("n_obs"),
        F.min("obs_ts").alias("min_ts"),
        F.max("obs_ts").alias("max_ts"),
    )
    return (
        per_page.groupBy("subj", "subj_type", "pred_norm", "obj", "obj_type")
        .agg(
            F.sum("n_obs").cast("long").alias("n_obs"),
            F.count("*").cast("long").alias("n_pages"),
            F.min("min_ts").cast("long").alias("first_seen"),
            F.max("max_ts").cast("long").alias("last_seen"),
            F.countDistinct(
                F.floor(F.col("min_ts") / F.lit(86400))
            ).cast("long").alias("n_days"),
        )
    )


def predicate_functionality(
    triples: DataFrame, num: int = 4, den: int = 5
) -> DataFrame:
    """Per-predicate functionality profile — the KG-quality dashboard that
    decides which relations behave like functions (one object per subject:
    born_in, capital_of) vs inherently multi-valued ones (related_to).
    ``is_functional`` is the integer cross-multiplied rule
    ``n_single * den >= n_subjects * num`` (default 4/5 = 80% of subjects
    single-valued; no float in the gate — the entity_trends precedent).

    Scale shape: TWO map-side-combining aggregates — triples collapse to
    (pred_norm, subj) with a distinct-object count (keys are subject-
    spread, no hot reducer), then per-subject rows collapse to the
    predicate vocabulary (bounded). No join, no window."""
    per_subj = triples.groupBy("pred_norm", "subj").agg(
        F.countDistinct("obj").cast("long").alias("n_objs")
    )
    one = (F.col("n_objs") == 1).cast("long")
    return per_subj.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum(one).cast("long").alias("n_single"),
        F.max("n_objs").cast("long").alias("max_objs"),
        (
            (F.sum(one) * F.lit(den)) >= (F.count("*") * F.lit(num))
        ).cast("long").alias("is_functional"),
    )


def functional_conflicts(triples: DataFrame, num: int = 4, den: int = 5) -> DataFrame:
    """Conflicting-fact candidates: subjects holding MULTIPLE distinct
    objects under a predicate that is otherwise functional (>= num/den of
    its subjects single-valued) — the contradiction queue a KG curator
    reviews (imatinib treats {X, Y} is fine under 'related_to'; two
    different 'capital_of' objects is a conflict). ``objs`` is the
    '|'-joined sorted distinct object list (deterministic, hash-gateable).

    Scale shape: the (pred_norm, subj) aggregate is computed ONCE and
    persisted — it feeds both the violation rows and the predicate-level
    functionality profile; the final join is violations x predicate
    vocabulary (bounded dim — broadcastable, left to AQE). The object-
    list collect is per violating (pred, subj) key, bounded by that
    subject's distinct objects — never corpus-wide."""
    from unsupervised_ner_spark.caching import scoped_persist

    per_subj = scoped_persist(
        triples.groupBy("pred_norm", "subj").agg(
            F.countDistinct("obj").cast("long").alias("n_objs"),
            F.array_join(F.array_sort(F.collect_set("obj")), "|").alias("objs"),
        )
    )
    one = (F.col("n_objs") == 1).cast("long")
    stats = per_subj.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_subjects"),
        (
            (F.sum(one) * F.lit(den)) >= (F.count("*") * F.lit(num))
        ).cast("long").alias("is_functional"),
    )
    return (
        per_subj.filter(F.col("n_objs") >= 2)
        .join(stats.filter(F.col("is_functional") == 1), "pred_norm")
        .select("pred_norm", "subj", "n_objs", "objs", "n_subjects")
    )


def triple_snapshot_diff(triples: DataFrame) -> DataFrame:
    """Triple-level change-data table between two crawl snapshots — the
    KG analogue of the document snapshot diff (ops/dedup.py
    snapshot_diff): per distinct (subj, subj_type, pred_norm, obj,
    obj_type), the supporting-document count in snapshot A and B and a
    status — 'common' (supported in both), 'removed' (A only),
    'added' (B only). Snapshots are deterministic url-parity subsets of
    one crawl (A excludes url%4==3, B excludes url%4==1), so ONE tagging
    pass feeds both sides — a real two-crawl deployment unions two page
    scans with a snapshot column instead.

    Scale shape: one map-side-combining aggregate keyed on the triple —
    conditional distinct-url counts per side; no join, no window; a
    boilerplate triple repeated across the crawl is one reducer key."""
    u = F.col("url").cast("long")
    base = triples.select(
        "subj", "subj_type", "pred_norm", "obj", "obj_type", "url",
        (u % 4 != 3).alias("in_a"),
        (u % 4 != 1).alias("in_b"),
    )
    agg = base.groupBy("subj", "subj_type", "pred_norm", "obj", "obj_type").agg(
        F.countDistinct(F.when(F.col("in_a"), F.col("url"))).cast("long").alias("n_a"),
        F.countDistinct(F.when(F.col("in_b"), F.col("url"))).cast("long").alias("n_b"),
    )
    status = (
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), "common")
        .when(F.col("n_a") > 0, "removed")
        .otherwise("added")
    )
    return agg.withColumn("status", status)


def fact_intervals(triples_with_ts: DataFrame, gap_days: int = 7) -> DataFrame:
    """SCD2-style validity intervals per canonical fact: collapse the
    distinct observation DAYS of each (subj, subj_type, pred_norm, obj,
    obj_type) into maximal runs where consecutive sightings are at most
    ``gap_days`` apart — the versioned-edge table a temporal KG serves
    ("this fact held from day A to day B, disappeared, came back").
    ``triples_temporal`` gives one first/last envelope per fact; this is
    the gaps-and-islands refinement that exposes retractions between
    recrawls.

    Scale shape: one map-side-combining distinct-day aggregate (keyed by
    the fact — page-spread, no hot reducer beyond fact frequency), then
    TWO window passes partitioned by the fact ordered by day (lag to mark
    run starts, running sum to number islands), then one aggregate per
    (fact, island). Every window partition is one fact's distinct-day
    list — bounded by the crawl cadence (<= days in the crawl window),
    never corpus-sized. No join.
    """
    from pyspark.sql import Window

    key = ["subj", "subj_type", "pred_norm", "obj", "obj_type"]
    days = (
        triples_with_ts.select(
            *key, F.expr("obs_ts div 86400").cast("long").alias("day")
        )
        .groupBy(*key, "day")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    wo = Window.partitionBy(*key).orderBy("day")
    marked = days.withColumn(
        "new_run",
        F.when(
            F.lag("day").over(wo).isNull()
            | ((F.col("day") - F.lag("day").over(wo)) > gap_days),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long"),
    )
    run = marked.withColumn(
        "interval_idx",
        F.sum("new_run").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return run.groupBy(*key, "interval_idx").agg(
        F.min("day").cast("long").alias("valid_from_day"),
        F.max("day").cast("long").alias("valid_to_day"),
        F.count("*").cast("long").alias("n_days"),
        F.sum("n_obs").cast("long").alias("n_obs"),
    )


def fact_churn(intervals: DataFrame) -> DataFrame:
    """Per-predicate churn rollup over the SCD2 fact-interval table — the
    KG-freshness dashboard (which relations are stable facts vs volatile
    claims that appear, vanish between recrawls, and return). Input is
    ``fact_intervals``; output per ``pred_norm``: distinct facts, total
    validity intervals, retracted facts (>= 2 intervals — the fact
    disappeared at least once), single-day flashes (one interval of one
    day), and total covered days.

    Scale shape: two cascaded map-side-combining aggregates — intervals
    collapse to the fact (keys are fact-spread), facts collapse to the
    predicate vocabulary (bounded). No join, no window."""
    per_fact = intervals.groupBy(
        "subj", "subj_type", "pred_norm", "obj", "obj_type"
    ).agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum(
            F.col("valid_to_day") - F.col("valid_from_day") + F.lit(1)
        ).cast("long").alias("covered_days"),
        F.sum("n_obs").cast("long").alias("n_obs"),
    )
    retracted = (F.col("n_intervals") >= 2).cast("long")
    flash = (
        (F.col("n_intervals") == 1) & (F.col("covered_days") == 1)
    ).cast("long")
    return per_fact.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_facts"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
        F.sum(retracted).cast("long").alias("n_retracted"),
        F.sum(flash).cast("long").alias("n_flash"),
        F.sum("covered_days").cast("long").alias("covered_days"),
        F.sum("n_obs").cast("long").alias("n_obs"),
    )


def schema_violations(triples: DataFrame) -> DataFrame:
    """Induced domain/range violations — the ontology-consistency check a
    KG curator runs without a hand-written schema: per predicate the
    DOMINANT (subj_type, obj_type) signature is induced from the triple
    histogram (argmax by count, ties lexicographic — deterministic), and
    every distinct triple whose type pair deviates from its predicate's
    dominant signature is flagged with its support (likely extraction
    errors or genuine polysemy, ranked by how rare the deviation is).

    Scale shape: the type histogram is ONE map-side-combining aggregate
    bounded by (predicate x type-pair) combinations; the dominant pair is
    a second aggregate over that bounded table via min-struct argmax (no
    window); distinct triples (triple_support-bounded, never corpus-
    sized) join the dominant table on the predicate key (broadcast-able
    dim, left to AQE)."""
    hist = triples.groupBy("pred_norm", "subj_type", "obj_type").agg(
        F.count("*").cast("long").alias("n_pair")
    )
    top = F.min(
        F.struct(
            (-F.col("n_pair")).alias("neg_n"),
            F.col("subj_type").alias("st"),
            F.col("obj_type").alias("ot"),
        )
    )
    dom = hist.groupBy("pred_norm").agg(
        top.alias("top"),
        F.sum("n_pair").cast("long").alias("n_pred_triples"),
    ).select(
        "pred_norm",
        F.col("top.st").alias("dom_subj_type"),
        F.col("top.ot").alias("dom_obj_type"),
        (-F.col("top.neg_n")).cast("long").alias("n_dominant"),
        "n_pred_triples",
    )
    dt = triples.groupBy(
        "subj", "subj_type", "pred_norm", "obj", "obj_type"
    ).agg(F.countDistinct("url").cast("long").alias("n_docs"))
    return (
        dt.join(dom, "pred_norm")
        .filter(
            (F.col("subj_type") != F.col("dom_subj_type"))
            | (F.col("obj_type") != F.col("dom_obj_type"))
        )
        .select(
            "subj", "subj_type", "pred_norm", "obj", "obj_type", "n_docs",
            "dom_subj_type", "dom_obj_type", "n_dominant", "n_pred_triples",
        )
    )


def facts_asof(intervals: DataFrame, day: int) -> DataFrame:
    """Temporal as-of query over the SCD2 interval table: the KG snapshot
    that was TRUE on ``day`` — every fact whose validity interval covers
    it (``valid_from_day <= day <= valid_to_day``). The serving-side
    complement of :func:`fact_intervals`: reconstruct yesterday's graph
    without storing per-day snapshots.

    Scale shape: one filter over the interval table — with the interval
    table partitioned/sorted on ``valid_from_day`` (the natural write
    order), the predicate prunes files; no shuffle, no join. The row
    count is the size of the graph AT one instant, not the history."""
    return intervals.filter(
        (F.col("valid_from_day") <= day) & (F.col("valid_to_day") >= day)
    )


# quotation-attribution grammar (Java/RE2 agreement subset, imported by
# the DuckDB twin so the engines cannot drift)
QUOTE_RE = '"([^"]+)"'
SPEAKER_POST_RE = '" said ([A-Z][a-z]+(?: [A-Z][a-z]+)*)'
SPEAKER_PRE_RE = '([A-Z][a-z]+(?: [A-Z][a-z]+)*) said, "'


def extract_quotations(sentences: DataFrame) -> DataFrame:
    """Quotation attribution over the sentence table: extract the quoted
    span and its speaker from the two canonical reporting frames —
    ``"...," said Name`` (post-posed) and ``Name said, "..."``
    (pre-posed) — the (speaker, SAYS, claim) relation extractor that
    turns news-style web text into attributed-claim triples. Sentences
    with a quote but no attributable speaker (or vice versa) emit
    nothing; post-posed attribution wins when both frames somehow match.

    Scale shape: three regexp_extract projections over the sentence scan
    — map-only, no Python, no shuffle. Patterns are anchored to the
    quote delimiters, so cost is linear in sentence length."""
    quote = F.regexp_extract(F.col("sent"), QUOTE_RE, 1)
    post = F.regexp_extract(F.col("sent"), SPEAKER_POST_RE, 1)
    pre = F.regexp_extract(F.col("sent"), SPEAKER_PRE_RE, 1)
    speaker = F.when(post != "", post).otherwise(pre)
    return (
        sentences.select(
            "url", "sent_idx", speaker.alias("speaker"), quote.alias("quote")
        )
        .filter((F.col("quote") != "") & (F.col("speaker") != ""))
    )


def dangling_objects(triples: DataFrame) -> DataFrame:
    """Referential-integrity check over the triple table: typed OBJECTS
    that never occur as a SUBJECT of any triple — the dangling-node
    inventory (objects with no outgoing facts) a KG curator reviews
    before publishing, and the natural worklist for the next crawl
    round. Returns (obj, obj_type, n_triples, n_docs) per dangling
    object, counting its inbound support.

    Scale shape: BOTH sides collapse to entity granularity before the
    join — the subject side to a distinct (subj, subj_type) key set, the
    object side via one map-side-combining aggregate — then one
    LEFT ANTI equi-join of two vocabulary-bounded tables. The corpus-
    sized triple scan runs once per side of a single pass chain; no
    corpus-sized shuffle beyond the two aggregates."""
    subj = triples.select(
        F.col("subj").alias("obj"), F.col("subj_type").alias("obj_type")
    ).distinct()
    obj = triples.groupBy("obj", "obj_type").agg(
        F.count("*").cast("long").alias("n_triples"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )
    return obj.join(subj, ["obj", "obj_type"], "left_anti")


def mine_rules(triples: DataFrame) -> DataFrame:
    """AMIE-style 2-atom Horn-rule mining over the distinct fact table:
    for ordered predicate pairs, support and confidence of
    ``p(x,y) => q(x,y)`` (direction 'fwd') and ``p(x,y) => q(y,x)``
    (direction 'inv'; p==q allowed there — that row IS the symmetry
    detector, reflexive facts excluded). The KG-schema induction step
    after predicate histograms: which relations imply which (Galarraga et
    al., AMIE, WWW'13 — body size 1). Confidence ships as integer ppm
    (n_joint * 10^6 DIV n_p) — no float in the gate.

    Scale shape: the corpus collapses to the DISTINCT fact table first
    (persisted once — it feeds both self-join sides and the predicate
    marginal); the rule join keys on the (x, y) entity pair, so fan-out
    per pair is |predicates on that pair|^2 — schema-bounded, never
    corpus-quadratic; the marginal attaches by an equi-join on the
    bounded predicate table."""
    from unsupervised_ner_spark.caching import scoped_persist

    facts = scoped_persist(
        triples.select("subj", "pred_norm", "obj").distinct()
    )
    n_p = facts.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_p")
    ).select(F.col("pred_norm").alias("p"), "n_p")
    f1 = facts.select(
        F.col("subj").alias("x"), F.col("pred_norm").alias("p"),
        F.col("obj").alias("y"),
    )
    fwd = (
        f1.join(
            facts.select(
                F.col("subj").alias("x"), F.col("pred_norm").alias("q"),
                F.col("obj").alias("y"),
            ),
            ["x", "y"],
        )
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_joint"))
        .withColumn("direction", F.lit("fwd"))
    )
    inv = (
        f1.filter(F.col("x") != F.col("y"))
        .join(
            facts.select(
                F.col("obj").alias("x"), F.col("pred_norm").alias("q"),
                F.col("subj").alias("y"),
            ),
            ["x", "y"],
        )
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_joint"))
        .withColumn("direction", F.lit("inv"))
    )
    return (
        fwd.unionByName(inv)
        .join(n_p, "p")
        .select(
            "p", "q", "direction", "n_joint", "n_p",
            F.expr("n_joint * 1000000 DIV n_p").cast("long").alias("conf_ppm"),
        )
    )


def mine_chain_rules(
    triples: DataFrame, max_mid_degree: int | None = None
) -> DataFrame:
    """Chain-rule mining (``p1(x,z) AND p2(z,y) => q(x,y)`` — AMIE body
    size 2 / the PRA path feature): per (p1, p2) the number of distinct
    (x, y) pairs connected by such a path (``n_body``), and per head
    predicate q the count of those pairs q also links (``n_head``), with
    integer-ppm confidence.

    Scale shape: wedge enumeration at the mid entity z is deg_in x
    deg_out, so mids are DEGREE-CAPPED with the shared corpus-adaptive
    clamp(icbrt_ceil(n_facts), 16, 4096) on BOTH the in- and out-degree
    (the common_neighbors pattern — a hub mid is a near-useless path
    witness, exactly like a stop-shingle; the cap is an O(1) driver
    action the oracle replays exactly). The distinct fact table persists
    once and feeds both path sides, the body collapses to distinct
    (p1, p2, x, y) before the head join, and the head attaches by an
    (x, y)-keyed equi-join."""
    from unsupervised_ner_spark.caching import scoped_persist
    from unsupervised_ner_spark.ops.dedup import icbrt_ceil

    facts = scoped_persist(
        triples.select("subj", "pred_norm", "obj").distinct()
    )
    if max_mid_degree is None:
        max_mid_degree = max(16, min(4096, icbrt_ceil(max(facts.count(), 1))))
    din = facts.groupBy("obj").agg(F.count("*").alias("d_in")).filter(
        F.col("d_in") <= max_mid_degree
    ).select(F.col("obj").alias("z"))
    dout = facts.groupBy("subj").agg(F.count("*").alias("d_out")).filter(
        F.col("d_out") <= max_mid_degree
    ).select(F.col("subj").alias("z"))
    mids = din.join(dout, "z")
    body = (
        facts.select(
            F.col("subj").alias("x"), F.col("pred_norm").alias("p1"),
            F.col("obj").alias("z"),
        )
        .join(mids, "z")
        .join(
            facts.select(
                F.col("subj").alias("z"), F.col("pred_norm").alias("p2"),
                F.col("obj").alias("y"),
            ),
            "z",
        )
        .filter(F.col("x") != F.col("y"))
        .select("p1", "p2", "x", "y")
        .distinct()
    )
    body = scoped_persist(body)
    n_body = body.groupBy("p1", "p2").agg(
        F.count("*").cast("long").alias("n_body")
    )
    heads = (
        body.join(
            facts.select(
                F.col("subj").alias("x"), F.col("pred_norm").alias("q"),
                F.col("obj").alias("y"),
            ),
            ["x", "y"],
        )
        .groupBy("p1", "p2", "q")
        .agg(F.count("*").cast("long").alias("n_head"))
    )
    return heads.join(n_body, ["p1", "p2"]).select(
        "p1", "p2", "q", "n_body", "n_head",
        F.expr("n_head * 1000000 DIV n_body").cast("long").alias("conf_ppm"),
    )


# certainty cue lexicons (word-level, lowercase — matched against the
# already-normalized pred_norm token stream)
NEG_CUES = ("cannot", "never", "no", "nor", "not", "without")
HEDGE_CUES = ("appears", "could", "likely", "may", "might", "possibly",
              "suggests")


def fact_certainty(triples: DataFrame) -> DataFrame:
    """Assertion-status classification for extracted facts — the
    precision lever every open-IE consumer applies before loading a KG
    (Stanovsky et al.-style factuality-lite): a fact whose predicate
    path carries a negation cue is NOT a positive fact, a hedged one is
    a candidate. Three-way label over the pred_norm token stream:
    'negated' (negation cue present — wins over hedge), 'hedged'
    (hedge cue), else 'asserted'; ``cue`` is the alphabetically smallest
    matching cue word (array_min — deterministic in both engines, unlike
    intersection order), '' when asserted.

    Scale shape: pure map over the triple table — token split + two
    bounded-literal array intersections inside codegen; no exchange."""
    toks = F.split(F.col("pred_norm"), " ", -1)
    neg = F.array_intersect(toks, F.array(*[F.lit(w) for w in NEG_CUES]))
    hedge = F.array_intersect(
        toks, F.array(*[F.lit(w) for w in HEDGE_CUES])
    )
    return triples.select(
        "url", "sent_idx", "subj", "subj_type", "pred_norm", "obj",
        "obj_type",
        F.when(F.size(neg) > 0, F.lit("negated"))
        .when(F.size(hedge) > 0, F.lit("hedged"))
        .otherwise(F.lit("asserted"))
        .alias("certainty"),
        F.when(F.size(neg) > 0, F.array_min(neg))
        .when(F.size(hedge) > 0, F.array_min(hedge))
        .otherwise(F.lit(""))
        .alias("cue"),
    )


def relation_candidates(
    typed_mentions: DataFrame, triples: DataFrame
) -> DataFrame:
    """Distant-supervision relation-candidate dataset (Mintz et al. 2009)
    — the silver training table a relation-extraction model is trained
    on, and the dataset-building step that turns the extraction engine's
    own KB back into supervision: EVERY ordered pair of non-OTHER typed
    mentions in a sentence (not only the adjacent pairs the pattern
    extractor emits) becomes a candidate, and the candidate is labeled
    with the KB's normalized predicate whenever the (normalized subject,
    subject type, normalized object, object type) key is known to the KB
    — 'NA' otherwise (the no-relation class, the bulk of the dataset by
    design). Gate non-vacuity measured in DuckDB before shipping (the
    kg_conflicts protocol): both label classes fire at both gate scales
    (sf0.001: 73 labeled / 9 NA; sf0.01: 84 / 20), so no splice is
    needed; the labeled-NON-adjacent cell is empty on the word-salad
    corpus (no surface pair recurs non-adjacently) and is covered by the
    unit test instead.

    Returns (url, sent_idx, idx_a, idx_b, surf_a, type_a, surf_b,
    type_b, adjacent, silver_pred, n_kb_preds, kb_sents): ``adjacent``
    flags the pairs the extractor itself produced (idx_b = idx_a + 1
    among the sentence's non-OTHER mentions); ``silver_pred`` is the
    alphabetically smallest KB predicate for the pair ('NA' when
    unknown), ``n_kb_preds`` how many distinct predicates the KB holds
    for it (multi-label candidates), ``kb_sents`` the KB evidence count.

    Scale shape: the within-sentence pair join is sentence-local
    (co-partitioned on (url, sent_idx), never corpus-quadratic; the
    cooccurrence_edges posture). The KB side aggregates FIRST — the
    triple stream collapses to distinct surface-pair keys with map-side
    combine — then one equi-join candidate x KB on the pair key; a hot
    KB pair ("covid causes pneumonia" on millions of pages) is ONE KB
    row after aggregation, so the join skew lives on the candidate side
    where AQE skew-join splits it."""
    from unsupervised_ner_spark.pipeline.er import norm_surface_col
    from pyspark.sql import Window

    m = (
        typed_mentions.filter(F.col("pred_group") != "OTHER")
        .select(
            "url", "sent_idx", "mention_idx", "surface",
            F.col("pred_group").alias("etype"),
            norm_surface_col(F.col("surface")).alias("norm"),
        )
        .filter(F.length("norm") > 0)
    )
    w = Window.partitionBy("url", "sent_idx").orderBy("mention_idx")
    m = m.withColumn("rn", F.row_number().over(w).cast("long"))
    a = m.select(
        "url", "sent_idx",
        F.col("mention_idx").alias("idx_a"), F.col("rn").alias("rn_a"),
        F.col("surface").alias("surf_a"), F.col("etype").alias("type_a"),
        F.col("norm").alias("norm_a"),
    )
    b = m.select(
        "url", "sent_idx",
        F.col("mention_idx").alias("idx_b"), F.col("rn").alias("rn_b"),
        F.col("surface").alias("surf_b"), F.col("etype").alias("type_b"),
        F.col("norm").alias("norm_b"),
    )
    pairs = a.join(b, ["url", "sent_idx"]).filter(F.col("rn_a") < F.col("rn_b"))
    kb = (
        triples.select(
            norm_surface_col(F.col("subj")).alias("norm_a"),
            F.col("subj_type").alias("type_a"),
            norm_surface_col(F.col("obj")).alias("norm_b"),
            F.col("obj_type").alias("type_b"),
            "pred_norm",
        )
        .filter((F.length("norm_a") > 0) & (F.length("norm_b") > 0))
        .groupBy("norm_a", "type_a", "norm_b", "type_b")
        .agg(
            F.min("pred_norm").alias("kb_pred"),
            F.countDistinct("pred_norm").cast("long").alias("n_kb_preds"),
            F.count("*").cast("long").alias("kb_sents"),
        )
    )
    out = pairs.join(kb, ["norm_a", "type_a", "norm_b", "type_b"], "left")
    return out.select(
        "url",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.col("idx_a").cast("long").alias("idx_a"),
        F.col("idx_b").cast("long").alias("idx_b"),
        "surf_a", "type_a", "surf_b", "type_b",
        (F.col("rn_b") == F.col("rn_a") + 1).cast("long").alias("adjacent"),
        F.coalesce("kb_pred", F.lit("NA")).alias("silver_pred"),
        F.coalesce("n_kb_preds", F.lit(0)).cast("long").alias("n_kb_preds"),
        F.coalesce("kb_sents", F.lit(0)).cast("long").alias("kb_sents"),
    )


def predicate_signatures(
    triples: DataFrame, num: int = 1, den: int = 2
) -> DataFrame:
    """Per-predicate domain/range signature induction — the ontology-
    induction step of KG schema learning (beside predicate_functionality's
    cardinality profile): every (pred_norm, subj_type, obj_type) cell with
    its triple count, the predicate's total, the deterministic signature
    rank (count DESC, subj_type ASC, obj_type ASC), the modal flag, and
    ``is_dominant`` — the integer cross-multiplied rule
    ``n_pairs * den >= n_total * num`` on the modal row (default 1/2: the
    modal signature carries a majority of the predicate's triples, i.e.
    the predicate has a usable domain/range axiom). Measured at both gate
    scales before shipping: 'a' holds 6-8 signatures with a sub-majority
    mode (both flags fire 0), the long tail is single-signature (fires 1).

    Scale shape: ONE map-side-combining aggregate collapses the triple
    corpus to the (pred x subj_type x obj_type) vocabulary (bounded by
    |preds| x |types|^2), then the window/total run over that bounded
    table — never over the corpus. No join."""
    from pyspark.sql import Window

    sig = triples.groupBy("pred_norm", "subj_type", "obj_type").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    w_tot = Window.partitionBy("pred_norm")
    w_rk = Window.partitionBy("pred_norm").orderBy(
        F.desc("n_pairs"), F.asc("subj_type"), F.asc("obj_type")
    )
    return sig.select(
        "pred_norm", "subj_type", "obj_type", "n_pairs",
        F.sum("n_pairs").over(w_tot).cast("long").alias("n_total"),
        F.row_number().over(w_rk).cast("long").alias("sig_rank"),
    ).select(
        "*",
        (F.col("sig_rank") == 1).cast("long").alias("is_modal"),
        (
            (F.col("sig_rank") == 1)
            & (F.col("n_pairs") * F.lit(int(den)) >= F.col("n_total") * F.lit(int(num)))
        ).cast("long").alias("is_dominant"),
    )


def apply_rules(
    triples: DataFrame, min_conf_ppm: int = 500000, min_joint: int = 2
) -> DataFrame:
    """One-step forward chaining — the rule-APPLICATION step that turns
    :func:`mine_rules` output into KB-completion candidates (Galarraga et
    al., AMIE, WWW'13 §6 "predicting facts"): mine the 2-atom rules, keep
    those with ``conf_ppm >= min_conf_ppm`` AND ``n_joint >= min_joint``,
    instantiate each over the distinct fact table (fwd: p(x,y) => q(x,y);
    inv: p(x,y) => q(y,x)), drop self-loop candidates, and ANTI-join
    against the existing facts — the output is NEW facts only, the
    curator's suggestion queue.

    Output: (subj, pred_norm, obj, n_rules, max_conf_ppm, src_preds) —
    n_rules counts distinct supporting (body-pred, direction) rules,
    src_preds is the '|'-joined sorted distinct body-predicate list.

    Scale shape: the distinct fact table persists once and feeds rule
    mining, both instantiation sides, and the anti-join; the kept rule
    set is schema-bounded (<= |preds|^2 rows) and BROADCAST to the
    instantiation joins, so candidate generation is a map-side join over
    one fact scan; the anti-join and the final aggregate shuffle on the
    candidate fact key — the only corpus-sized exchanges."""
    from unsupervised_ner_spark.caching import scoped_persist

    facts = scoped_persist(
        triples.select("subj", "pred_norm", "obj").distinct()
    )
    rules = (
        mine_rules(facts)
        .filter(
            (F.col("conf_ppm") >= int(min_conf_ppm))
            & (F.col("n_joint") >= int(min_joint))
        )
        .select("p", "q", "direction", "conf_ppm")
    )
    fwd = facts.join(
        F.broadcast(rules.filter(F.col("direction") == "fwd")),
        facts["pred_norm"] == F.col("p"),
    ).select(
        F.col("subj"), F.col("q").alias("cand_pred"), F.col("obj").alias("cand_obj"),
        "p", "direction", "conf_ppm",
    ).withColumnRenamed("subj", "cand_subj")
    inv = (
        facts.filter(F.col("subj") != F.col("obj"))
        .join(
            F.broadcast(rules.filter(F.col("direction") == "inv")),
            facts["pred_norm"] == F.col("p"),
        )
        .select(
            F.col("obj").alias("cand_subj"), F.col("q").alias("cand_pred"),
            F.col("subj").alias("cand_obj"), "p", "direction", "conf_ppm",
        )
    )
    cand = fwd.unionByName(inv).filter(F.col("cand_subj") != F.col("cand_obj"))
    new = cand.join(
        facts.select(
            F.col("subj").alias("cand_subj"),
            F.col("pred_norm").alias("cand_pred"),
            F.col("obj").alias("cand_obj"),
        ),
        ["cand_subj", "cand_pred", "cand_obj"],
        "left_anti",
    )
    return new.groupBy("cand_subj", "cand_pred", "cand_obj").agg(
        F.countDistinct(F.concat_ws("->", "p", "direction"))
        .cast("long").alias("n_rules"),
        F.max("conf_ppm").cast("long").alias("max_conf_ppm"),
        F.array_join(F.array_sort(F.collect_set("p")), "|").alias("src_preds"),
    ).select(
        F.col("cand_subj").alias("subj"),
        F.col("cand_pred").alias("pred_norm"),
        F.col("cand_obj").alias("obj"),
        "n_rules", "max_conf_ppm", "src_preds",
    )


def truth_discovery(claims: DataFrame) -> DataFrame:
    """Source-reliability-weighted fact resolution — one Sums/TruthFinder
    iteration (Yin, Han & Yu KDD'07; the conflict-RESOLUTION step after
    :func:`functional_conflicts` flags the queue): from distinct claims
    (src, subj, pred_norm, obj), (1) take the naive per-(subj, pred)
    majority object (distinct-source votes; ties n_src DESC then obj
    ASC), (2) score every SOURCE by its agreement rate with those
    majorities (quality_ppm = n_agree * 10^6 DIV n_claims — the "a source
    that lies elsewhere counts for less here" signal), (3) re-vote every
    claim with quality-weighted scores and keep the per-(subj, pred)
    winner (score DESC, obj ASC). ``changed`` = 1 where the weighted
    winner differs from the naive majority — the rows where reliability
    weighting actually mattered.

    Output: (subj, pred_norm, obj, n_sources, score_sum, majority_obj,
    changed) — one row per (subj, pred_norm), all integers/strings.

    Scale shape: the distinct claim table persists once and feeds the
    vote aggregate, the source scoring, and the re-vote; majorities and
    the winner run over the (subj, pred) vocabulary; the source-quality
    table is bounded by the SOURCE dimension and BROADCAST into the
    re-vote join; every aggregate is map-side-combining on claim keys —
    no corpus-quadratic step anywhere."""
    from pyspark.sql import Window

    from unsupervised_ner_spark.caching import scoped_persist

    c = scoped_persist(
        claims.select("src", "subj", "pred_norm", "obj").distinct()
    )
    votes = c.groupBy("subj", "pred_norm", "obj").agg(
        F.count("*").cast("long").alias("n_src")
    )
    w_maj = Window.partitionBy("subj", "pred_norm").orderBy(
        F.desc("n_src"), F.asc("obj")
    )
    maj = (
        votes.withColumn("mrk", F.row_number().over(w_maj))
        .filter(F.col("mrk") == 1)
        .select("subj", "pred_norm", F.col("obj").alias("majority_obj"))
    )
    srcq = (
        c.join(maj, ["subj", "pred_norm"])
        .groupBy("src")
        .agg(
            F.count("*").cast("long").alias("n_claims"),
            F.sum((F.col("obj") == F.col("majority_obj")).cast("long"))
            .cast("long").alias("n_agree"),
        )
        .select(
            "src",
            F.expr("n_agree * 1000000 DIV n_claims")
            .cast("long").alias("quality_ppm"),
        )
    )
    scored = (
        c.join(F.broadcast(srcq), "src")
        .groupBy("subj", "pred_norm", "obj")
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.sum("quality_ppm").cast("long").alias("score_sum"),
        )
    )
    w_win = Window.partitionBy("subj", "pred_norm").orderBy(
        F.desc("score_sum"), F.asc("obj")
    )
    return (
        scored.withColumn("wrk", F.row_number().over(w_win))
        .filter(F.col("wrk") == 1)
        .join(maj, ["subj", "pred_norm"])
        .select(
            "subj", "pred_norm", "obj", "n_sources", "score_sum",
            "majority_obj",
            (F.col("obj") != F.col("majority_obj"))
            .cast("long").alias("changed"),
        )
    )


# Role-appositive relation pattern: "<Entity>, <role> of <Entity>," —
# the classic high-precision relation extractor (Hearst-style surface
# pattern lifted to BINARY relations). Java-regex / RE2 agreement subset;
# the DuckDB oracle imports this exact string.
ROLE_PAT = (
    "([A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*), "
    "([a-z]+(?: [a-z]+)?) of "
    "([A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*),"
)


def role_pattern_facts(sentences: DataFrame) -> DataFrame:
    """sentences(url, sent_idx, sent) -> (subj, role, obj, n_sents,
    n_docs): corpus-aggregated role facts from the appositive relation
    pattern "<Person>, <role> of <Org>," (first match per sentence —
    ``regexp_extract`` semantics, identical in both engines). The role
    phrase (1-2 lowercase words: "founder", "chief executive") becomes
    the normalized predicate; both entity surfaces lowercase onto the
    same node keys the taxonomy extractors use. This is the third
    surface-pattern channel (is-a typing, acronym aliases, now BINARY
    role relations) feeding the same canonical graph.

    Scale shape: one narrow regexp scan + one map-side-combining
    aggregate on the bounded (subj, role, obj) fact vocabulary; no join,
    nothing corpus-quadratic."""
    cand = sentences.select(
        "url",
        F.lower(F.regexp_extract("sent", ROLE_PAT, 1)).alias("subj"),
        F.regexp_extract("sent", ROLE_PAT, 2).alias("role"),
        F.lower(F.regexp_extract("sent", ROLE_PAT, 3)).alias("obj"),
    ).filter((F.length("subj") > 0) & (F.length("obj") > 0))
    return cand.groupBy("subj", "role", "obj").agg(
        F.count("*").cast("long").alias("n_sents"),
        F.countDistinct("url").cast("long").alias("n_docs"),
    )


# Grounded quantity pattern: "<Entity> <verb> <int> <unit>". Same
# agreement subset; integer values only (the float literal stays out of
# the extractor by construction).
MEAS_PAT = (
    # unit alternation is LONGEST-FIRST ("mg" before "m" before "g") and
    # right-delimited by punctuation/space/end — RE2 has no lookahead, so
    # the delimiter is a non-capturing group both engines support; both
    # engines use leftmost-first alternation, so ordered-by-length keeps
    # their captures identical.
    "([A-Z][A-Za-z0-9]*(?: [A-Z][A-Za-z0-9]*)*) "
    "(is|measures|weighs|costs) ([0-9]+) "
    "(percent|km|cm|kg|mg|m|g)(?:[ .,]|$)"
)

# unit -> (class, base multiplier): lengths in mm, masses in mg,
# ratios in ppm — every base value an exact integer.
MEAS_UNITS = {
    "km": ("length", 1_000_000),
    "m": ("length", 1_000),
    "cm": ("length", 10),
    "kg": ("mass", 1_000_000),
    "g": ("mass", 1_000),
    "mg": ("mass", 1),
    "percent": ("ratio", 10_000),
}


def measurement_facts(sentences: DataFrame) -> DataFrame:
    """sentences(url, sent_idx, sent) -> grounded quantity facts
    (url, sent_idx, ent, verb, value_raw, unit, unit_class, value_base):
    first "<Entity> <verb> <int> <unit>" match per sentence, the entity
    lowercased onto the shared node key, the value normalized to the
    unit class's integer base (mm / mg / ppm) so downstream comparisons
    ("which entities weigh more than X") are exact-integer and
    unit-free. Literal-valued facts are the KG's attribute channel
    beside the entity-entity relation channels.

    Scale shape: pure narrow map (one regexp scan + a bounded CASE on
    the unit vocabulary); no aggregate, no join."""
    cand = sentences.select(
        "url", "sent_idx",
        F.lower(F.regexp_extract("sent", MEAS_PAT, 1)).alias("ent"),
        F.regexp_extract("sent", MEAS_PAT, 2).alias("verb"),
        F.regexp_extract("sent", MEAS_PAT, 3).alias("raw"),
        F.regexp_extract("sent", MEAS_PAT, 4).alias("unit"),
    ).filter((F.length("ent") > 0) & (F.length("raw") > 0))
    cls = F.lit(None).cast("string")
    mul = F.lit(None).cast("long")
    for u, (c, k) in MEAS_UNITS.items():
        cls = F.when(F.col("unit") == u, F.lit(c)).otherwise(cls)
        mul = F.when(F.col("unit") == u, F.lit(k).cast("long")).otherwise(mul)
    return cand.select(
        "url", "sent_idx", "ent", "verb",
        F.col("raw").cast("long").alias("value_raw"),
        "unit",
        cls.alias("unit_class"),
        (F.col("raw").cast("long") * mul).cast("long").alias("value_base"),
    )


def mine_rules_pca(triples: DataFrame) -> DataFrame:
    """AMIE rule mining with BOTH confidence estimators (Galarraga et al.
    WWW'13 §4.4): standard confidence (denominator = ALL body facts) and
    PCA confidence under the partial-completeness assumption — the
    denominator counts only body facts whose head-subject is KNOWN to
    have some head-predicate fact (fwd: p(x,y) with ∃y' q(x,y'); inv:
    head q(y,x), so p(x,y) with ∃x' q(y,x')). On an open-world KG the
    standard estimator punishes rules for the KG's own incompleteness;
    PCA is the estimator AMIE actually ranks by. pca_conf_ppm >=
    conf_ppm always (its denominator is a subset), both exact integer
    ppm.

    Scale shape: mine_rules' posture plus one more bounded channel — the
    distinct (pred, subject) table joins the body facts on the subject
    key (entity-keyed equi-join, schema-bounded fan-out |preds on
    subject|); the distinct fact table is persisted once and feeds all
    five consumers (two joint sides, two PCA channels, marginal)."""
    from unsupervised_ner_spark.caching import scoped_persist

    facts = scoped_persist(
        triples.select("subj", "pred_norm", "obj").distinct()
    )
    n_p = facts.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_p")
    ).select(F.col("pred_norm").alias("p"), "n_p")
    f1 = facts.select(
        F.col("subj").alias("x"), F.col("pred_norm").alias("p"),
        F.col("obj").alias("y"),
    )
    qsubj = facts.select(
        F.col("pred_norm").alias("q"), F.col("subj").alias("qs")
    ).distinct()
    fwd = (
        f1.join(
            facts.select(
                F.col("subj").alias("x"), F.col("pred_norm").alias("q"),
                F.col("obj").alias("y"),
            ),
            ["x", "y"],
        )
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_joint"))
        .withColumn("direction", F.lit("fwd"))
    )
    fwd_pca = (
        f1.join(qsubj, f1["x"] == qsubj["qs"])
        .filter(F.col("p") != F.col("q"))
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_pca"))
        .withColumn("direction", F.lit("fwd"))
    )
    inv = (
        f1.filter(F.col("x") != F.col("y"))
        .join(
            facts.select(
                F.col("obj").alias("x"), F.col("pred_norm").alias("q"),
                F.col("subj").alias("y"),
            ),
            ["x", "y"],
        )
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_joint"))
        .withColumn("direction", F.lit("inv"))
    )
    inv_pca = (
        f1.filter(F.col("x") != F.col("y"))
        .join(qsubj, f1["y"] == qsubj["qs"])
        .groupBy("p", "q")
        .agg(F.count("*").cast("long").alias("n_pca"))
        .withColumn("direction", F.lit("inv"))
    )
    joint = fwd.unionByName(inv)
    pca = fwd_pca.unionByName(inv_pca)
    return (
        joint.join(pca, ["p", "q", "direction"])
        .join(n_p, "p")
        .select(
            "p", "q", "direction", "n_joint", "n_p", "n_pca",
            F.expr("n_joint * 1000000 DIV n_p").cast("long").alias("conf_ppm"),
            F.expr("n_joint * 1000000 DIV n_pca").cast("long")
            .alias("pca_conf_ppm"),
        )
    )


# Coordination pattern: a conjoined lowercase subject list followed by a
# distribution verb and a single object. RE2-safe (no lookahead/backrefs);
# both engines use leftmost-first alternation so captures stay identical.
CONJ_PAT = (
    "^([a-z][a-z0-9]*(?:, [a-z][a-z0-9]*)* and [a-z][a-z0-9]*) "
    "(borders|adjoins|rivals) ([a-z][a-z0-9]*)(?:[ .]|$)"
)


def conjunct_facts(sentences: DataFrame) -> DataFrame:
    """Coordination expansion — distribute a predicate over a conjoined
    subject list ("a, b and c borders d" => borders(a,d), borders(b,d),
    borders(c,d)). Span detection emits one MENTION per conjunct
    (the reference tags conjuncts individually,
    /root/reference/batched_main_NER.py span detection) but the clause
    asserts the relation for EACH of them; this operator is the
    consumer that turns the list into per-conjunct facts, keeping the
    conjunct's position and the list arity for provenance.

    Scale shape: one regexp scan + a bounded posexplode over the
    conjunct list (list length is clause-bounded); no join, no
    aggregate, no shuffle."""
    cand = sentences.select(
        "url", "sent_idx",
        F.regexp_extract("sent", CONJ_PAT, 1).alias("subj_list"),
        F.regexp_extract("sent", CONJ_PAT, 2).alias("pred"),
        F.regexp_extract("sent", CONJ_PAT, 3).alias("obj"),
    ).filter(F.length("subj_list") > 0)
    conj = F.split(F.col("subj_list"), ", | and ")
    return cand.select(
        "url", "sent_idx", "pred", "obj",
        F.size(conj).cast("long").alias("n_conjuncts"),
        F.posexplode(conj).alias("conj_idx", "subj"),
    ).select(
        "url", "sent_idx", "subj", "pred", "obj",
        F.col("conj_idx").cast("long").alias("conj_idx"),
        "n_conjuncts",
    )


def interval_conflicts(
    facts_with_day: DataFrame,
    gap_days: int = 7,
    num: int = 4,
    den: int = 5,
) -> DataFrame:
    """Temporal-consistency validation — the interval-aware refinement of
    ``functional_conflicts``: two different objects under a functional
    predicate are only CONTRADICTORY if their validity intervals OVERLAP
    (capital_of changing over time is history, not a conflict — the
    Wikidata qualifier-consistency rule). Input is (subj, pred_norm,
    obj, day) observation rows; per fact the distinct observation days
    collapse into maximal runs at most ``gap_days`` apart (the
    fact_intervals gaps-and-islands, keyed without types here), the
    ``num/den`` single-valued rule computed over the SAME fact table
    decides functionality (the functional_conflicts device), and the
    per-(pred, subj) interval self-join emits one row per overlapping
    object pair with the exact overlap window.

    Output: (pred_norm, subj, obj_a, obj_b, a_from, a_to, b_from, b_to,
    overlap_days) — obj_a < obj_b, overlap_days >= 1.

    Scale shape: one distinct-day aggregate + two windows per fact
    (partitions bounded by the crawl-day span), one bounded per-subject
    aggregate for the functionality stats, and a self-join keyed
    (pred_norm, subj) whose per-key size is that subject's interval
    count (objects x islands — never corpus-wide). The interval table is
    persisted once and feeds both join sides."""
    from pyspark.sql import Window

    from unsupervised_ner_spark.caching import scoped_persist

    key = ["subj", "pred_norm", "obj"]
    days = (
        facts_with_day.select(*key, F.col("day").cast("long").alias("day"))
        .groupBy(*key, "day")
        .agg(F.count("*").alias("_n"))
        .drop("_n")
    )
    wo = Window.partitionBy(*key).orderBy("day")
    marked = days.withColumn(
        "new_run",
        F.when(
            F.lag("day").over(wo).isNull()
            | ((F.col("day") - F.lag("day").over(wo)) > gap_days),
            F.lit(1),
        ).otherwise(F.lit(0)).cast("long"),
    )
    run = marked.withColumn(
        "interval_idx",
        F.sum("new_run").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    iv = scoped_persist(
        run.groupBy(*key, "interval_idx").agg(
            F.min("day").cast("long").alias("from_day"),
            F.max("day").cast("long").alias("to_day"),
        )
    )
    per_subj = iv.select("pred_norm", "subj", "obj").distinct().groupBy(
        "pred_norm", "subj"
    ).agg(F.countDistinct("obj").cast("long").alias("n_objs"))
    one = (F.col("n_objs") == 1).cast("long")
    functional = (
        per_subj.groupBy("pred_norm")
        .agg(
            ((F.sum(one) * F.lit(den)) >= (F.count("*") * F.lit(num)))
            .cast("long").alias("is_functional")
        )
        .filter(F.col("is_functional") == 1)
        .select("pred_norm")
    )
    a = iv.select(
        "pred_norm", "subj", F.col("obj").alias("obj_a"),
        F.col("from_day").alias("a_from"), F.col("to_day").alias("a_to"),
    )
    b = iv.select(
        "pred_norm", "subj", F.col("obj").alias("obj_b"),
        F.col("from_day").alias("b_from"), F.col("to_day").alias("b_to"),
    )
    return (
        a.join(b, ["pred_norm", "subj"])
        .filter(F.col("obj_a") < F.col("obj_b"))
        .join(functional, "pred_norm")
        .filter(
            F.greatest("a_from", "b_from") <= F.least("a_to", "b_to")
        )
        .select(
            "pred_norm", "subj", "obj_a", "obj_b",
            "a_from", "a_to", "b_from", "b_to",
            (
                F.least("a_to", "b_to") - F.greatest("a_from", "b_from")
                + F.lit(1)
            ).cast("long").alias("overlap_days"),
        )
    )


def property_coverage(triples: DataFrame) -> DataFrame:
    """Per-type schema completeness — the Wikidata property-suggestion
    primitive (Recoin): for every (subject type, predicate), how many
    of the type's entities carry the predicate at all. The low-coverage
    rows are simultaneously the curation queue (missing facts to
    harvest) and the property-suggestion model's training signal.
    Output: (subj_type, pred_norm, n_with, n_type_entities,
    coverage_ppm).

    Scale shape: two cascaded distinct aggregates (entities per type;
    entities per (type, pred)) — both two-level collapses, no
    count-distinct Expand — joined on the bounded type vocabulary."""
    ents = triples.select("subj_type", "subj").distinct()
    totals = ents.groupBy("subj_type").agg(
        F.count("*").cast("long").alias("n_type_entities")
    )
    have = (
        triples.select("subj_type", "pred_norm", "subj").distinct()
        .groupBy("subj_type", "pred_norm")
        .agg(F.count("*").cast("long").alias("n_with"))
    )
    return have.join(totals, "subj_type").select(
        "subj_type", "pred_norm", "n_with", "n_type_entities",
        F.expr("n_with * 1000000 div n_type_entities").cast("long")
        .alias("coverage_ppm"),
    )


def inverse_functional_merge(
    triples: DataFrame, num: int = 4, den: int = 5
) -> DataFrame:
    """Inverse-functional-property identity resolution (the owl:
    InverseFunctionalProperty device: an email/ISBN/DOI value belongs
    to ONE entity, so two subjects sharing it are the same entity) —
    the obj-side mirror of predicate_functionality's subj-side rule: a
    predicate is IFP when >= ``num/den`` of its OBJECTS have exactly
    one subject; for IFP predicates, every multi-subject object emits a
    merge suggestion (pred, obj, the sorted subject list) — the ER
    candidate channel that needs no string similarity at all.

    Scale shape: the (pred, obj) aggregate is computed ONCE and
    persisted (it feeds the IFP profile AND the suggestion rows — the
    functional_conflicts device, reversed); the final join is
    suggestions x predicate vocabulary (bounded)."""
    from unsupervised_ner_spark.caching import scoped_persist

    per_obj = scoped_persist(
        triples.groupBy("pred_norm", "obj").agg(
            F.countDistinct("subj").cast("long").alias("n_subjs"),
            F.array_join(F.array_sort(F.collect_set("subj")), "|")
            .alias("subjs"),
        )
    )
    one = (F.col("n_subjs") == 1).cast("long")
    stats = per_obj.groupBy("pred_norm").agg(
        F.count("*").cast("long").alias("n_objects"),
        (
            (F.sum(one) * F.lit(den)) >= (F.count("*") * F.lit(num))
        ).cast("long").alias("is_ifp"),
    )
    return (
        per_obj.filter(F.col("n_subjs") >= 2)
        .join(stats.filter(F.col("is_ifp") == 1), "pred_norm")
        .select("pred_norm", "obj", "n_subjs", "subjs", "n_objects")
    )
