"""ANSI/DuckDB oracle SQL for every driver-facing query.

Each function returns a DuckDB-runnable SQL string that replays the exact
semantics of the matching Spark implementation (same hash primitives — md5,
same tie-breaks, same quantization). Shared fragments are built once so the
two engines cannot drift apart silently.

The KG-chain oracles re-derive the whole pipeline (sentences -> tokens ->
mentions -> typing -> BIO -> triples) in pure SQL from the committed fixture
parquet — a fully independent replication of the reference semantics used as
the correctness gate (CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from pathlib import Path

from unsupervised_ner_spark.descriptors import OOV_DESCS
from unsupervised_ner_spark.kernel.spans import FUNCTION_WORDS
from unsupervised_ner_spark.ops.textstats import EN_STOPWORDS, LANG_STOPWORDS

from unsupervised_ner_spark.respath import resources_root

FIXTURES = resources_root() / "fixtures"

_FUNCWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in sorted(FUNCTION_WORDS)) + "]"


def _materialize(sql: str, *cte_names: str) -> str:
    """Force DuckDB to materialize multi-referenced CTEs (``name AS
    MATERIALIZED (``): without the hint DuckDB may inline a CTE once per
    reference, re-running the whole upstream chain (measured 3-4x slowdown
    on the ER/ensemble oracles).

    Anchored on a word boundary and asserted to hit exactly once (ADVICE
    r03: a plain substring replace also rewrote ``bsents AS (`` when
    materializing ``sents``, and a missing CTE became a silent no-op)."""
    import re

    for name in cte_names:
        pat = re.compile(rf"(?<![A-Za-z0-9_]){re.escape(name)} AS \(")
        sql, n = pat.subn(f"{name} AS MATERIALIZED (", sql)
        assert n == 1, f"CTE {name!r} matched {n} times (expected exactly 1)"
    return sql
_OOV_SQL = (
    "["
    + ", ".join("{'desc': '%s', 'score': %s}" % (d, float(s)) for d, s in OOV_DESCS)
    + "]"
)

# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# sentences over the documents table (doc texts are the page bodies; one
# sentence per newline-delimited line, P3 blank filter, P9 punct-termination)
SENTS_CTE = """
sents AS (
    SELECT url, sent_idx,
           CASE WHEN substr(s0, length(s0), 1) IN ('!', ',', '.', ':', ';', '?')
                THEN s0 ELSE s0 || ' . ' END AS sent
    FROM (
        SELECT CAST(doc_id AS VARCHAR) AS url, i - 1 AS sent_idx, trim(parts[i]) AS s0
        FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM documents),
             UNNEST(generate_series(1, len(parts))) AS u(i)
    )
    WHERE length(s0) > 1
)
"""

_NOUNISH = """(
    NOT list_contains({funcwords}, lower({w}))
    AND regexp_matches(lower({w}), '[a-z0-9]')
    AND NOT ({w} = lower({w}) AND lower({w}) <> upper({w}) AND regexp_matches({w}, 'ly$'))
    AND NOT ({w} = lower({w}) AND lower({w}) <> upper({w}) AND length({w}) > 4
             AND regexp_matches({w}, '(ed|ing)$'))
)"""


def nounish_sql(w: str) -> str:
    return _NOUNISH.format(w=w, funcwords=_FUNCWORDS_SQL)


def tokens_cte(s: str = "", sents: str = "sents") -> str:
    """Token CTE chain, optionally name-prefixed (``s``) and reading from an
    alternative sentence CTE — used by the divergent-tokenizer branch of
    kg_ensemble_reconciled."""
    return f"""
{s}stoks AS (
    SELECT url, sent_idx, sent,
           list_filter(regexp_split_to_array(sent, '\\s+'), t -> t <> '') AS toks
    FROM {sents}
),
{s}smode AS (
    SELECT *, len(list_filter(toks, t -> ends_with(t, ':__entity__'))) > 0 AS marker_mode
    FROM {s}stoks
),
{s}tokens AS (
    SELECT url, sent_idx, i - 1 AS token_idx,
           replace(toks[i], ':__entity__', '') AS word,
           CASE WHEN marker_mode THEN ends_with(toks[i], ':__entity__')
                ELSE {nounish_sql('toks[i]')} END AS nounish
    FROM {s}smode, UNNEST(generate_series(1, len(toks))) AS u(i)
)
"""


def mentions_cte(s: str = "") -> str:
    return f"""
{s}m1 AS (
    SELECT *, CASE WHEN nounish AND NOT coalesce(
        lag(nounish) OVER (PARTITION BY url, sent_idx ORDER BY token_idx), FALSE)
        THEN 1 ELSE 0 END AS st
    FROM {s}tokens
),
{s}m2 AS (
    SELECT *, sum(st) OVER (PARTITION BY url, sent_idx ORDER BY token_idx
                            ROWS UNBOUNDED PRECEDING) AS grp
    FROM {s}m1
),
{s}mentions AS (
    SELECT url, sent_idx, CAST(grp - 1 AS BIGINT) AS mention_idx,
           CAST(min(token_idx) AS BIGINT) AS begin_tok,
           CAST(max(token_idx) AS BIGINT) AS end_tok,
           string_agg(word, ' ' ORDER BY token_idx) AS surface
    FROM {s}m2 WHERE nounish
    GROUP BY url, sent_idx, grp
)
"""


TOKENS_CTE = tokens_cte()
MENTIONS_CTE = mentions_cte()


def _typed_cte(
    model: str = "a100", s: str = "",
    mentions_src: str = "mentions", sents_src: str = "sents",
) -> str:
    fix = FIXTURES / f"descriptor_fixture_{model}.parquet"
    sig = FIXTURES / f"entity_signatures_{model}.parquet"
    emap = FIXTURES / "entity_map.parquet"
    return f"""
{s}base AS (
    SELECT m.*, s.sent,
           CASE WHEN length(m.surface) > 0
                THEN lower(list_extract(string_split(m.surface, ' '),
                           len(string_split(m.surface, ' '))))
                ELSE coalesce(lower(
                    list_filter(
                        (list_transform(
                            list_filter(regexp_split_to_array(s.sent, '\\s+'), t -> t <> ''),
                            t -> replace(t, ':__entity__', '')))[1:m.begin_tok],
                        t -> t <> '')[-1]), '') END AS head,
           length(m.surface) > 0 AS has_surface,
           length(m.surface) > 0 AND len(list_filter(string_split(m.surface, ' '),
                 t -> NOT regexp_matches(t, '^[0-9]+$'))) = 0 AS is_num,
           ends_with(s.sent, ' :__entity__') AS blank,
           m.url || '#' || CAST(m.sent_idx AS VARCHAR) || '#' || CAST(m.mention_idx AS VARCHAR) AS mkey
    FROM {mentions_src} m JOIN {sents_src} s USING (url, sent_idx)
),
{s}numeric_m AS (
    SELECT url, sent_idx, mention_idx, begin_tok, end_tok, surface,
           'MEASURE' AS pred_group, 'MEASURE[NUMBER]' AS prediction
    FROM {s}base WHERE is_num
),
{s}fixt AS (SELECT * FROM read_parquet('{fix}')),
{s}sigt AS (SELECT * FROM read_parquet('{sig}')),
{s}emapt AS (SELECT * FROM read_parquet('{emap}')),
{s}jf AS (
    SELECT b.*, f.ci_descs, f.cs_descs
    FROM {s}base b LEFT JOIN {s}fixt f ON b.head = f.term
    WHERE NOT b.is_num
),
{s}sides AS (
    SELECT mkey, blank, 'ci' AS side,
           CASE WHEN NOT has_surface THEN {_OOV_SQL}
                ELSE coalesce(ci_descs, {_OOV_SQL}) END AS descs
    FROM {s}jf
    UNION ALL
    SELECT mkey, blank, 'cs' AS side, coalesce(cs_descs, {_OOV_SQL}) AS descs FROM {s}jf
),
{s}drows AS (
    SELECT mkey, blank, side, i - 1 AS rnk,
           lower(descs[i]['desc']) AS dterm, descs[i]['score'] AS score
    FROM {s}sides, UNNEST(generate_series(1, len(descs))) AS u(i)
),
{s}sj AS (
    SELECT d.mkey, d.blank, d.side, d.rnk, d.score,
           coalesce(s.labels, ['UNTAGGED_ENTITY']) AS labels,
           coalesce(s.counts, [1]) AS counts
    FROM {s}drows d LEFT JOIN {s}sigt s ON d.dterm = s.term
),
{s}lab0 AS (
    SELECT mkey, blank, side, rnk, score, labels[i] AS label,
           CAST(counts[i] AS DOUBLE) AS cnt
    FROM {s}sj, UNNEST(generate_series(1, len(labels))) AS u(i)
    WHERE labels[i] NOT IN ('OTHER', 'UNTAGGED_ENTITY')
),
{s}lab AS (
    SELECT l.*, e.grp FROM {s}lab0 l JOIN {s}emapt e ON l.label = e.subtype
),
{s}sm1 AS (SELECT *, max(cnt) OVER (PARTITION BY mkey, side, rnk) AS mx FROM {s}lab),
{s}sm2 AS (SELECT *, exp(cnt - mx) AS ex FROM {s}sm1),
{s}sm3 AS (SELECT *, ex / sum(ex) OVER (PARTITION BY mkey, side, rnk) AS soft FROM {s}sm2),
{s}sidegrp AS (
    SELECT mkey, blank, side, grp, sum(soft * score) AS s
    FROM {s}sm3 GROUP BY mkey, blank, side, grp
),
{s}sideconf AS (
    SELECT *, s / sum(s) OVER (PARTITION BY mkey, side) AS conf FROM {s}sidegrp
),
{s}missing AS (
    SELECT sd.mkey, sd.blank, sd.side
    FROM (SELECT DISTINCT mkey, blank, side FROM {s}sides) sd
    LEFT JOIN (SELECT DISTINCT mkey, side FROM {s}sideconf) x USING (mkey, side)
    WHERE x.mkey IS NULL
),
{s}allconf AS (
    SELECT mkey, blank, side, grp, conf FROM {s}sideconf
    UNION ALL
    SELECT mkey, blank, side, 'OTHER' AS grp, 1.0 AS conf FROM {s}missing
),
{s}pooled AS (
    SELECT mkey, grp, round(sum(conf), 9) AS p FROM {s}allconf
    WHERE NOT (blank AND side = 'ci')
    GROUP BY mkey, grp
),
{s}topg AS (
    SELECT mkey, grp AS pred_group FROM (
        SELECT *, row_number() OVER (PARTITION BY mkey ORDER BY p DESC, grp ASC) AS rn
        FROM {s}pooled) WHERE rn = 1
),
{s}subs AS (
    SELECT mkey, grp, label, sum(cnt) AS c FROM {s}lab
    WHERE NOT (blank AND side = 'ci')
    GROUP BY mkey, grp, label
),
{s}topsub AS (
    SELECT mkey, grp, label AS top_subtype FROM (
        SELECT *, row_number() OVER (PARTITION BY mkey, grp ORDER BY c DESC, label ASC) AS rn
        FROM {s}subs) WHERE rn = 1
),
{s}typed0 AS (
    SELECT t.mkey, t.pred_group,
           CASE WHEN ts.top_subtype IS NOT NULL AND ts.top_subtype <> t.pred_group
                THEN t.pred_group || '[' || ts.top_subtype || ']'
                ELSE t.pred_group END AS prediction
    FROM {s}topg t LEFT JOIN {s}topsub ts ON t.mkey = ts.mkey AND t.pred_group = ts.grp
),
{s}typed AS (
    SELECT b.url, b.sent_idx, b.mention_idx, b.begin_tok, b.end_tok, b.surface,
           t.pred_group, t.prediction
    FROM {s}base b JOIN {s}typed0 t ON b.mkey = t.mkey
    UNION ALL
    SELECT * FROM {s}numeric_m
)
"""


def _kg_prefix(model: str = "a100") -> str:
    return (
        "WITH " + SENTS_CTE.strip().rstrip(",")
        + ", " + TOKENS_CTE.strip()
        + ", " + MENTIONS_CTE.strip()
        + ", " + _typed_cte(model).strip().lstrip()
    )


def kg_sentences() -> str:
    return f"WITH {SENTS_CTE.strip()} SELECT url, sent_idx, sent FROM sents"


def kg_mentions() -> str:
    return (
        f"WITH {SENTS_CTE.strip()}, {TOKENS_CTE.strip()}, {MENTIONS_CTE.strip()} "
        "SELECT url, sent_idx, mention_idx, begin_tok, end_tok, surface FROM mentions"
    )


def kg_mentions_pos() -> str:
    """POS-tag-driven mentions (pipeline/pos.py twin): deterministic rule
    tagger + noun_tags run grouping (ensemble/utils/common.py:11,15-31).
    Rule order replicates synth_pos_tag verbatim; word lists are imported
    from the same module so the twins cannot drift."""
    from unsupervised_ner_spark.pipeline.pos import (
        CLOSED_CLASS,
        ING_NOUNS,
        VERB_LEXICON,
    )

    arr = lambda xs: "[" + ", ".join(f"'{x}'" for x in xs) + "]"  # noqa: E731
    noun_tags_sql = arr(("NFP", "JJ", "NN", "FW", "NNS", "NNPS",
                         "JJS", "JJR", "NNP", "POS", "CD"))
    w = "replace(toks[i], ':__entity__', '')"
    is_lower = f"({w} = lower({w}) AND lower({w}) <> upper({w}))"
    tag = f"""CASE
        WHEN marker_mode THEN
            CASE WHEN ends_with(toks[i], ':__entity__') THEN 'NNP' ELSE 'RESET' END
        WHEN regexp_matches({w}, '^[0-9]+$') THEN 'CD'
        WHEN list_contains({arr(CLOSED_CLASS)}, lower({w})) THEN 'IN'
        WHEN {is_lower} AND list_contains({arr(VERB_LEXICON)}, lower({w})) THEN 'VBD'
        WHEN NOT regexp_matches(lower({w}), '[a-z0-9]') THEN 'SYM'
        WHEN {is_lower} AND list_contains({arr(ING_NOUNS)}, lower({w})) THEN 'NN'
        WHEN {is_lower} AND regexp_matches({w}, 'ly$') THEN 'RB'
        WHEN {is_lower} AND length({w}) > 4 AND regexp_matches({w}, '(ed|ing)$') THEN 'VBG'
        WHEN regexp_matches({w}, '^[A-Z]') THEN 'NNP'
        ELSE 'NN' END"""
    return (
        f"WITH {SENTS_CTE.strip()}, "
        f"""
ptoks AS (
    SELECT url, sent_idx, sent,
           list_filter(regexp_split_to_array(sent, '\\s+'), t -> t <> '') AS toks
    FROM sents
),
pmode AS (
    SELECT *, len(list_filter(toks, t -> ends_with(t, ':__entity__'))) > 0 AS marker_mode
    FROM ptoks
),
ptagged AS (
    SELECT url, sent_idx, i - 1 AS token_idx,
           replace(toks[i], ':__entity__', '') AS word,
           list_contains({noun_tags_sql}, {tag}) AS nounish
    FROM pmode, UNNEST(generate_series(1, len(toks))) AS u(i)
),
p1 AS (
    SELECT *, CASE WHEN nounish AND NOT coalesce(
        lag(nounish) OVER (PARTITION BY url, sent_idx ORDER BY token_idx), FALSE)
        THEN 1 ELSE 0 END AS st
    FROM ptagged
),
p2 AS (
    SELECT *, sum(st) OVER (PARTITION BY url, sent_idx ORDER BY token_idx
                            ROWS UNBOUNDED PRECEDING) AS grp
    FROM p1
)
SELECT url, sent_idx, CAST(grp - 1 AS BIGINT) AS mention_idx,
       CAST(min(token_idx) AS BIGINT) AS begin_tok,
       CAST(max(token_idx) AS BIGINT) AS end_tok,
       string_agg(word, ' ' ORDER BY token_idx) AS surface
FROM p2 WHERE nounish
GROUP BY url, sent_idx, grp
"""
    )


def kg_masks() -> str:
    """CS masked sentence + CI probe per mention (T1/T2)."""
    return (
        f"WITH {SENTS_CTE.strip()}, {TOKENS_CTE.strip()}, {MENTIONS_CTE.strip()}, "
        """
stoks2 AS (
    SELECT url, sent_idx,
           list_transform(
             list_filter(regexp_split_to_array(sent, '\\s+'), t -> t <> ''),
             t -> replace(t, ':__entity__', '')) AS toks
    FROM sents
),
mm AS (
    SELECT m.*, s.toks FROM mentions m JOIN stoks2 s USING (url, sent_idx)
)
SELECT url, sent_idx, mention_idx, surface,
       array_to_string(
         list_concat(list_concat(toks[1:begin_tok], ['__entity__']),
                     toks[end_tok + 2:len(toks)]), ' ') AS masked_sent,
       array_to_string(
         list_transform(string_split(surface, ' '),
           t -> CASE WHEN regexp_matches(t, '^\\p{Ll}\\p{Ll}')
                     THEN upper(substr(t, 1, 1)) || substr(t, 2, length(t) - 1)
                     ELSE t END), ' ') || ' is a entity' AS ci_probe
FROM mm
"""
    )


def kg_typed_mentions(model: str = "a100") -> str:
    return (
        _kg_prefix(model)
        + " SELECT url, sent_idx, mention_idx, begin_tok, end_tok, surface,"
        " pred_group, prediction FROM typed"
    )


def kg_bio_tags(model: str = "a100") -> str:
    return (
        _kg_prefix(model)
        + """
, expanded AS (
    SELECT t.url, t.sent_idx, CAST(u.ti AS BIGINT) AS token_idx, t.begin_tok, t.prediction
    FROM typed t, UNNEST(generate_series(t.begin_tok, t.end_tok)) AS u(ti)
)
SELECT tok.url, tok.sent_idx, CAST(tok.token_idx AS BIGINT) AS token_idx, tok.word,
       CASE WHEN e.prediction IS NULL THEN 'O'
            WHEN tok.token_idx = e.begin_tok THEN 'B_' || e.prediction
            ELSE 'I_' || e.prediction END AS tag
FROM tokens tok
LEFT JOIN expanded e ON tok.url = e.url AND tok.sent_idx = e.sent_idx
                     AND tok.token_idx = e.token_idx
"""
    )


def _triples_ctes() -> str:
    """The kg_triples body as reusable CTEs on top of ``_kg_prefix``
    (``typed_f``/``pairs``/``gaps``/``trip``) — so oracles needing BOTH
    the typed mention table and the triple stream (kg_relation_candidates)
    compose one prefix chain instead of nesting two."""
    return f""", typed_f AS (
    SELECT *, row_number() OVER (PARTITION BY url, sent_idx ORDER BY begin_tok) AS rn
    FROM typed WHERE pred_group <> 'OTHER'
),
pairs AS (
    SELECT a.url, a.sent_idx,
           a.surface AS subj, a.pred_group AS subj_type,
           b.surface AS obj, b.pred_group AS obj_type,
           a.end_tok AS ae, b.begin_tok AS bb
    FROM typed_f a JOIN typed_f b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND b.rn = a.rn + 1
),
gaps AS (
    SELECT p.url, p.sent_idx, p.subj, p.subj_type, p.obj, p.obj_type,
           string_agg(lower(t.word), ' ' ORDER BY t.token_idx) AS gap_txt,
           array_to_string(list_slice(
               list(lower(t.word) ORDER BY t.token_idx)
                   FILTER (WHERE t.word IS NOT NULL
                           AND NOT list_contains({_EN_SW}, lower(t.word))),
               1, 4), ' ') AS norm_txt
    FROM pairs p
    LEFT JOIN tokens t
      ON t.url = p.url AND t.sent_idx = p.sent_idx
     AND t.token_idx > p.ae AND t.token_idx < p.bb
     AND regexp_matches(lower(t.word), '[a-z0-9]')
    GROUP BY ALL
),
tripc AS (
    SELECT url, sent_idx, subj, subj_type,
           coalesce(nullif(gap_txt, ''), 'related_to') AS pred,
           coalesce(nullif(norm_txt, ''), 'related_to') AS pred_norm,
           obj, obj_type
    FROM gaps
)"""


def kg_triples(model: str = "a100") -> str:
    return _kg_prefix(model) + _triples_ctes() + "\nSELECT * FROM tripc\n"


def kg_predicates(model: str = "a100", top_k: int = 10) -> str:
    """Top normalized predicates per (subj_type, obj_type) — the KG-schema
    induction histogram (VERDICT r04 item 5). Built on the kg_triples
    chain; rank is deterministic because pred_norm is a group key of the
    histogram (ties break on the string)."""
    return f"""
WITH trip AS ({kg_triples(model)})
, hist AS (
    SELECT subj_type, obj_type, pred_norm,
           CAST(count(*) AS BIGINT) AS n_triples,
           CAST(count(DISTINCT url) AS BIGINT) AS n_docs
    FROM trip GROUP BY ALL
)
SELECT subj_type, obj_type, pred_norm, n_triples, n_docs,
       CAST(row_number() OVER (PARTITION BY subj_type, obj_type
                               ORDER BY n_triples DESC, pred_norm) AS BIGINT) AS rank
FROM hist
QUALIFY rank <= {top_k}
"""


# ---------------------------------------------------------------------------
# text stats / dedup / similarity / multimodal oracles
# ---------------------------------------------------------------------------

_TOKS = "list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')"
_LOWTOKS = f"list_transform({_TOKS}, t -> lower(t))"
_EN_SW = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"


def txt_stats() -> str:
    return f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct({_LOWTOKS})) AS BIGINT) AS n_distinct_tokens,
       CAST(len(list_filter({_LOWTOKS}, t -> list_contains({_EN_SW}, t))) AS BIGINT) AS n_stopword_tokens,
       CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{{-~]', '', 'g')) AS BIGINT) AS n_punct_chars,
       CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


def txt_quality() -> str:
    return f"""
WITH s AS (
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(list_distinct({_LOWTOKS})) AS n_distinct_tokens,
           len(list_filter({_LOWTOKS}, t -> list_contains({_EN_SW}, t))) AS n_stopword_tokens
    FROM documents
)
SELECT doc_id,
       CASE WHEN n_tokens < 5 THEN 'short'
            WHEN n_stopword_tokens * 100 < n_tokens * 3 THEN 'boilerplate'
            WHEN n_distinct_tokens * 100 < n_tokens * 40 THEN 'lowlex'
            ELSE 'good' END AS quality
FROM s
"""


def txt_langid() -> str:
    parts = []
    for lang, sw in sorted(LANG_STOPWORDS.items()):
        sw_sql = "[" + ", ".join(f"'{w}'" for w in sw) + "]"
        parts.append(
            f"len(list_filter({_LOWTOKS}, t -> list_contains({sw_sql}, t))) AS h_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    # sort structs (neg-hits asc, lang asc) == (hits desc, lang asc)
    pairs = ", ".join(f"{{'nh': -h_{l}, 'lang': '{l}'}}" for l in langs)
    return f"""
WITH h AS (SELECT doc_id, {', '.join(parts)} FROM documents),
c AS (SELECT doc_id, list_sort([{pairs}]) AS srt FROM h)
SELECT doc_id,
       CASE WHEN srt[1]['nh'] < 0 THEN srt[1]['lang'] ELSE 'und' END AS lang_guess
FROM c
"""


def txt_fingerprint() -> str:
    return f"""
SELECT doc_id, md5(array_to_string({_LOWTOKS}, ' ')) AS fingerprint
FROM documents
"""


def txt_repetition() -> str:
    """ops/textstats.repetition_stats twin: Gopher-style repetition
    numerators — top-bigram occurrence count (unnest + group + max, the
    explode path's relational mirror) and duplicate-trigram instances
    (n_trigrams − distinct trigrams, pure list expressions)."""
    bg = "list_transform(generate_series(1, n - 1), i -> toks[i] || ' ' || toks[i+1])"
    tri = (
        "list_transform(generate_series(1, n - 2), "
        "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])"
    )
    return f"""
WITH t AS (SELECT doc_id, {_LOWTOKS} AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
narrow AS (
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(greatest(n - 1, 0) AS BIGINT) AS n_bigrams,
           CAST(greatest(n - 2, 0)
                - CASE WHEN n >= 3 THEN len(list_distinct({tri})) ELSE 0 END
                AS BIGINT) AS n_dup_trigrams
    FROM n
),
bg AS (SELECT doc_id, unnest({bg}) AS bg FROM n WHERE n >= 2),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY ALL),
top AS (SELECT doc_id, max(c) AS top_bigram_n FROM cnt GROUP BY doc_id)
SELECT narrow.doc_id, n_tokens, n_bigrams,
       CAST(coalesce(top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
       n_dup_trigrams
FROM narrow LEFT JOIN top ON narrow.doc_id = top.doc_id
"""


def txt_contamination(eval_keep_buckets: int = 256) -> str:
    """ops/textstats.contamination_screen twin: eval set = md5-bucket
    sample of doc_id (hash_sample idiom); distinct 5-token md5 shingles
    (whole-doc fallback under 5 tokens); per train doc, distinct shared
    shingles and distinct eval docs hit."""
    sh5 = (
        "CASE WHEN len(toks) >= 5 THEN "
        "list_transform(generate_series(1, len(toks) - 4), "
        "i -> md5(array_to_string(toks[i:i+4], ' '))) "
        "ELSE [md5(array_to_string(toks, ' '))] END"
    )
    return f"""
WITH t AS (SELECT doc_id, {_LOWTOKS} AS toks FROM documents),
sh AS (
    SELECT doc_id,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '{eval_keep_buckets:03x}' AS is_eval,
           unnest(list_distinct({sh5})) AS shingle
    FROM t
),
ev AS (SELECT DISTINCT doc_id AS eval_doc_id, shingle FROM sh WHERE is_eval),
tr AS (SELECT doc_id, shingle FROM sh WHERE NOT is_eval)
SELECT tr.doc_id,
       CAST(count(DISTINCT tr.shingle) AS BIGINT) AS n_hit_shingles,
       CAST(count(DISTINCT ev.eval_doc_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev ON tr.shingle = ev.shingle
GROUP BY tr.doc_id
"""


def txt_source_stats() -> str:
    """ops/textstats.source_stats twin: per-(source, lang) rollup with the
    txt_quality CASE inlined and the fingerprint as the distinct-content
    key."""
    return f"""
WITH per_doc AS (
    SELECT doc_id, source, lang,
           len({_TOKS}) AS n_toks,
           len(list_distinct({_LOWTOKS})) AS n_distinct_tokens,
           len(list_filter({_LOWTOKS}, t -> list_contains({_EN_SW}, t))) AS n_stopword_tokens,
           md5(array_to_string({_LOWTOKS}, ' ')) AS fp
    FROM documents
),
q AS (
    SELECT *,
           CASE WHEN n_toks < 5 THEN 'short'
                WHEN n_stopword_tokens * 100 < n_toks * 3 THEN 'boilerplate'
                WHEN n_distinct_tokens * 100 < n_toks * 40 THEN 'lowlex'
                ELSE 'good' END AS quality
    FROM per_doc
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN quality = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fingerprints
FROM q GROUP BY source, lang
"""


def dedup_exact() -> str:
    return f"""
WITH fp AS (
    SELECT doc_id, md5(array_to_string({_LOWTOKS}, ' ')) AS fingerprint
    FROM documents
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS rep_doc
FROM fp GROUP BY fingerprint HAVING count(*) > 1
"""


_SHINGLES_CTE = f"""
sh0 AS (
    SELECT doc_id, {_LOWTOKS} AS toks FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
           CASE WHEN len(toks) >= 3
                THEN md5(array_to_string(toks[i:i+2], ' '))
                ELSE md5(array_to_string(toks, ' ')) END AS shingle
    FROM sh0, UNNEST(generate_series(1, greatest(len(toks) - 2, 1))) AS u(i)
)
"""


def dedup_jaccard_exact(min_overlap: int = 2) -> str:
    """Uncapped (quadratic-on-boilerplate) variant — oracle cross-check
    only; the engine default is the df-capped twin below."""
    return f"""
WITH {_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {min_overlap}
)
SELECT p.doc_a, p.doc_b, CAST(p.n_common AS BIGINT) AS n_common,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def dedup_jaccard(min_overlap: int = 2, max_df: int = 25) -> str:
    """df-capped Jaccard pairing — the engine DEFAULT (ops/dedup.py
    DEFAULT_MAX_DF twin)."""
    return f"""
WITH {_SHINGLES_CTE.strip()},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {max_df}),
psh AS (SELECT s.* FROM sh s JOIN rare r USING (shingle)),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM psh a JOIN psh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {min_overlap}
)
SELECT p.doc_a, p.doc_b, CAST(p.n_common AS BIGINT) AS n_common,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
"""


def _icbrt_ceil_sql(n: str = "n", c: str = "c") -> str:
    """Exact integer ceiling cube root in SQL — the twin of
    ``ops/dedup.icbrt_ceil`` (ADVICE r04: float ceil(pow(N,1/3)) is
    libm-dependent at exact-cube boundaries). ``c`` must be the rounded
    float estimate CAST(round(pow(n,1.0/3),0) AS BIGINT), which is within
    +-1 of the true cube root for any BIGINT; the CASE then corrects with
    exact integer arithmetic, so both engines agree for every N."""
    return (
        f"GREATEST(1, CASE WHEN ({c}-1)*({c}-1)*({c}-1) >= {n} THEN {c}-1 "
        f"WHEN {c}*{c}*{c} >= {n} THEN {c} ELSE {c}+1 END)"
    )


def _lsh_bucket_cap(max_bucket: int | None) -> tuple[str, str]:
    """(extra CTE, HAVING bound) for the LSH bucket cap. ``None`` replays
    ops/dedup.adaptive_max_bucket from ``count(*)`` inside the query —
    clamp(icbrt_ceil(N), 50, 5000), exact-integer on both sides."""
    if max_bucket is None:
        return (
            "mbt0 AS (SELECT count(*) AS n, CAST(round(pow(count(*), 1.0/3), 0) AS BIGINT) AS c FROM documents), "
            f"mbt AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS mb FROM mbt0)",
            "(SELECT mb FROM mbt)",
        )
    return "", str(max_bucket)


def dedup_minhash_lsh(num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None) -> str:
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    band_rows = []
    for b in range(n_bands):
        cols = " || '|' || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    cap_cte, cap_bound = _lsh_bucket_cap(max_bucket)
    cap_cte = f"{cap_cte}," if cap_cte else ""
    return f"""
WITH {_SHINGLES_CTE.strip()},
{cap_cte}
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
sizes_ok AS (
    SELECT band_id, band_hash FROM bands
    GROUP BY band_id, band_hash HAVING count(*) <= {cap_bound}
),
ok AS (
    SELECT b.* FROM bands b JOIN sizes_ok s USING (band_id, band_hash)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ok a JOIN ok b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b FROM cand
"""


def dedup_clusters(num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None) -> str:
    """Near-dup clusters (ops/dedup.py dedup_clusters twin): the LSH pair
    chain + a RECURSIVE-CTE reachability fixpoint (min reachable doc_id ==
    the star-CC component label the Spark loop converges to)."""
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    band_rows = []
    for b in range(num_hashes // band_size):
        cols = " || '|' || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    cap_cte, cap_bound = _lsh_bucket_cap(max_bucket)
    cap_cte = f"{cap_cte}," if cap_cte else ""
    return _materialize(
        f"""
WITH RECURSIVE {_SHINGLES_CTE.strip()},
{cap_cte}
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
sizes_ok AS (
    SELECT band_id, band_hash FROM bands
    GROUP BY band_id, band_hash HAVING count(*) <= {cap_bound}
),
ok AS (
    SELECT b.* FROM bands b JOIN sizes_ok s USING (band_id, band_hash)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ok a JOIN ok b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
),
esym AS (
    SELECT doc_a AS a, doc_b AS b FROM cand
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM cand
),
reach AS (
    SELECT doc_id AS node, doc_id AS lab FROM documents
    UNION
    SELECT e.b AS node, r.lab FROM reach r JOIN esym e ON e.a = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
csizes AS (SELECT component, count(*) AS n_docs FROM comp GROUP BY component)
SELECT c.node AS doc_id, c.component AS cluster_id,
       CAST(s.n_docs AS BIGINT) AS n_docs
FROM comp c JOIN csizes s USING (component)
WHERE s.n_docs >= 2
""",
        "sh", "cand", "esym", "comp",
    )


def _simhash_sig_ctes() -> str:
    """Shared CTE chain replaying ops/dedup.simhash_words: 64 bit-vote
    sums -> four unsigned 16-bit words -> signed two's-complement BIGINT
    assembly (the top word folds in as (w3 - 65536) * 2^48 when its sign
    bit is set — identical CASE arithmetic to the Spark side, never
    leaving the signed-64 range)."""
    bit_sql = []
    for j in range(64):
        nib = f"CAST(('0x' || substr(md5(tok), {1 + j // 4}, 1)) AS INT)"
        bit_sql.append(
            f"sum(CASE WHEN (({nib}) // {2 ** (3 - j % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
    word_sql = []
    for k in range(4):
        w = " + ".join(
            f"CASE WHEN b{16 * k + j} > 0 THEN {2 ** j} ELSE 0 END" for j in range(16)
        )
        word_sql.append(f"CAST({w} AS BIGINT) AS w{k}")
    asm = (
        "w0 + w1 * 65536 + w2 * 4294967296 + "
        "(CASE WHEN w3 >= 32768 THEN (w3 - 65536) * 281474976710656 "
        "ELSE w3 * 281474976710656 END)"
    )
    return f"""
tk AS (SELECT doc_id, unnest({_LOWTOKS}) AS tok FROM documents),
votes AS (SELECT doc_id, {', '.join(bit_sql)} FROM tk GROUP BY doc_id),
words AS (SELECT doc_id, {', '.join(word_sql)} FROM votes),
sig AS (SELECT doc_id, CAST({asm} AS BIGINT) AS simhash, w0, w1, w2, w3 FROM words)
""".strip()


def dedup_simhash() -> str:
    return f"""
WITH {_simhash_sig_ctes()}
SELECT doc_id, simhash FROM sig
"""


def dedup_simhash_pairs(max_hamming: int = 3, max_bucket: int = 100) -> str:
    """Replays ops/dedup.simhash_pairs for the 4-block regime: with
    n_blocks=4 and k=3 the blocking combinations are single 16-bit words,
    so (block_id, word) grouping here is row-for-row identical to the
    engine's (combo_id, key) table. The adaptive rule
    (dedup.adaptive_n_sim_blocks) selects 4 blocks for any corpus below
    ~6.5M docs — every oracle scale — so this SQL is exact for the gated
    query; the 6/8-block regimes are unit-tested against a driver-side
    brute force instead (tests/test_ops.py)."""
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {k} AS block_id, w{k} AS word FROM sig"
        for k in range(4)
    )
    return _materialize(
        f"""
WITH {_simhash_sig_ctes()},
blocked AS ({blocks}),
sizes_ok AS (
    SELECT block_id, word FROM blocked
    GROUP BY block_id, word HAVING count(*) <= {max_bucket}
),
ok AS (SELECT b.* FROM blocked b JOIN sizes_ok s USING (block_id, word)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sim_a, b.simhash AS sim_b
    FROM ok a JOIN ok b
      ON a.block_id = b.block_id AND a.word = b.word
     AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= {max_hamming}
""",
        "sig", "blocked", "ok",
    )


def ann_bruteforce(n_queries: int = 5, k: int = 5) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
scored AS (
    SELECT q.query_id, e.vec_id,
           list_dot_product(e.v, q.qv) /
           (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
),
r AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
FROM r WHERE rank <= {k}
"""


# deterministic md5-ranked centroid sample + 9dp-quantized expansion-form
# distance — byte-identical to ops/simsearch.py (sampled_centroids, _d2).
# The codebook size replays simsearch.adaptive_n_centroids:
# clamp(ceil(sqrt(count(*))), 16, 65536) — ceil(sqrt(·)) is IEEE-double in
# both engines so the adaptive cell count is engine-identical.
_IVF_ASSIGN_CTES = """
c AS (SELECT centroid_id, cv FROM (
        SELECT vec_id AS centroid_id, v AS cv,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rk,
               count(*) OVER () AS n_vecs
        FROM e)
      WHERE rk <= {n_centroids}),
d AS (
    SELECT e.vec_id, c.centroid_id,
           round(list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, c.cv)
             + list_dot_product(c.cv, c.cv), 9) AS d2
    FROM e CROSS JOIN c
),
assign AS (
    SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM d) WHERE rn = 1
)"""


def _n_centroids_sql(n_centroids: int | None) -> str:
    """None -> the adaptive √N rule (simsearch.adaptive_n_centroids twin);
    an int -> that literal (unit fixtures)."""
    if n_centroids is None:
        return "greatest(16, least(65536, CAST(ceil(sqrt(n_vecs)) AS BIGINT)))"
    return str(n_centroids)


def ann_ivf_assign(n_centroids: int | None = None) -> str:
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()}
SELECT vec_id, centroid_id FROM assign
"""


def ann_ivf_topk(n_queries: int = 5, k: int = 5, n_centroids: int | None = None) -> str:
    """Cell-probed ANN top-k (ops/simsearch.py ivf_topk twin)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
ea AS (SELECT e.vec_id, e.v, a.centroid_id FROM e JOIN assign a USING (vec_id)),
q AS (SELECT vec_id AS query_id, v AS qv, centroid_id AS qc
      FROM ea WHERE vec_id < {n_queries}),
scored AS (
    SELECT q.query_id, ea.vec_id,
           list_dot_product(ea.v, q.qv) /
           (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM ea JOIN q ON ea.centroid_id = q.qc AND ea.vec_id <> q.query_id
),
r AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
FROM r WHERE rank <= {k}
"""


def ann_ivf_topk_probe(
    n_queries: int = 5, k: int = 5, nprobe: int = 2,
    n_centroids: int | None = None,
) -> str:
    """Multi-probe IVF ANN (ops/simsearch.py ivf_topk_probe twin): each
    query searches its ``nprobe`` nearest cells; the ``d`` CTE already
    holds every (vector, centroid) distance, so the probe set is a second
    window over it."""
    return _materialize(
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
ea AS (SELECT e.vec_id, e.v, a.centroid_id FROM e JOIN assign a USING (vec_id)),
probe AS (
    SELECT vec_id AS query_id, centroid_id AS qc FROM (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, centroid_id ASC) AS rn
        FROM d WHERE vec_id < {n_queries})
    WHERE rn <= {nprobe}
),
q AS (SELECT p.query_id, e.v AS qv, p.qc
      FROM probe p JOIN e ON e.vec_id = p.query_id),
scored AS (
    SELECT q.query_id, ea.vec_id,
           list_dot_product(ea.v, q.qv) /
           (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM ea JOIN q ON ea.centroid_id = q.qc AND ea.vec_id <> q.query_id
),
r AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
FROM r WHERE rank <= {k}
""",
        "d",
    )


def _dist_cte(s: str) -> str:
    """Distribution extras per model chain: normalized pooled conf of the
    winner (9dp) + the PACKED per-side CS/CI distributions (pack_confidences
    twin, batched_main_NER.py:396-413) the resolution maze consumes; numeric
    mentions collapse to a single MEASURE[NUMBER] entry on both sides
    (typing_sql.py include_dist twin)."""
    return f"""
{s}pnorm AS (
    SELECT mkey, grp,
           p / sum(p) OVER (PARTITION BY mkey) AS conf_norm
    FROM {s}pooled
),
{s}ssub AS (
    SELECT mkey, side, grp, label, sum(cnt) AS c
    FROM {s}lab GROUP BY mkey, side, grp, label
),
{s}stop AS (
    SELECT mkey, side, grp, label AS side_sub FROM (
        SELECT *, row_number() OVER (PARTITION BY mkey, side, grp
                                     ORDER BY c DESC, label ASC) AS rn
        FROM {s}ssub) WHERE rn = 1
),
{s}entries AS (
    SELECT a.mkey, a.side,
           {{'nc': -round(a.conf, 9), 'g': a.grp,
             'e': CASE WHEN st.side_sub IS NOT NULL AND st.side_sub <> a.grp
                       THEN a.grp || '[' || st.side_sub || ']' ELSE a.grp END,
             'conf': round(a.conf, 9)}} AS entry
    FROM {s}allconf a
    LEFT JOIN {s}stop st ON st.mkey = a.mkey AND st.side = a.side AND st.grp = a.grp
),
{s}sdist AS (
    SELECT mkey, side,
           list_transform(list_sort(list(entry)),
                          x -> {{'e': x.e, 'conf': x.conf}}) AS dist
    FROM {s}entries GROUP BY mkey, side
),
{s}dists AS (
    SELECT mkey,
           any_value(CASE WHEN side = 'cs' THEN dist END) AS cs_dist,
           any_value(CASE WHEN side = 'ci' THEN dist END) AS ci_dist
    FROM {s}sdist GROUP BY mkey
),
{s}typed_d AS (
    SELECT t.url, t.sent_idx, t.mention_idx, t.surface, t.pred_group, t.prediction,
           round(pn.conf_norm, 9) AS conf, d.cs_dist, d.ci_dist
    FROM {s}typed t
    JOIN {s}dists d
      ON d.mkey = t.url || '#' || CAST(t.sent_idx AS VARCHAR) || '#' || CAST(t.mention_idx AS VARCHAR)
    JOIN {s}pnorm pn
      ON pn.mkey = d.mkey AND pn.grp = t.pred_group
    WHERE NOT EXISTS (SELECT 1 FROM {s}numeric_m nm
                      WHERE nm.url = t.url AND nm.sent_idx = t.sent_idx
                        AND nm.mention_idx = t.mention_idx)
    UNION ALL
    SELECT url, sent_idx, mention_idx, surface, pred_group, prediction,
           1.0 AS conf,
           [{{'e': 'MEASURE[NUMBER]', 'conf': 1.0}}] AS cs_dist,
           [{{'e': 'MEASURE[NUMBER]', 'conf': 1.0}}] AS ci_dist
    FROM {s}numeric_m
)"""


def _flip_sql(e: str) -> str:
    """flip_category twin (aggregate_server_json.py:482-491):
    "MAIN[SUB]" -> "SUB[MAIN]"."""
    return (
        f"CASE WHEN len(string_split({e}, '[')) > 1 "
        f"THEN rtrim(string_split({e}, '[')[2], ']') || '[' || string_split({e}, '[')[1] || ']' "
        f"ELSE {e} END"
    )


def _base_sql(e: str) -> str:
    return f"string_split({e}, '[')[1]"


def kg_ensemble_mentions(model_a: str = "a100", model_b: str = "bbc") -> str:
    """Two relational typing chains + the FULL conflict-resolution maze
    (J5/J6/O4; pipeline/ensemble_rules.py twin — layer-1 server pick,
    layer-2 gen_resolved_entity CS/CI/second-CS backoff chain, flip_category
    on every emitted entity)."""
    from unsupervised_ner_spark.dims import load_precedence

    prec = load_precedence()
    arr = lambda xs: "[" + ", ".join(f"'{x}'" for x in xs) + "]"  # noqa: E731
    bio_ok = arr(prec["bio_precedence_arr"] + prec["common_entities_arr"])
    phi_ok = arr(prec["phi_precedence_arr"] + prec["common_entities_arr"])
    bio_prec = arr(prec["bio_precedence_arr"])
    phi_prec = arr(prec["phi_precedence_arr"])

    # per-side derived columns (x in {a, b})
    def derived(x: str) -> str:
        return f"""
           CASE WHEN len(cs_{x}) > 0 THEN cs_{x}[1].e ELSE ci_{x}[1].e END AS cs0_{x},
           ci_{x}[1].e AS ci0_{x},
           CASE WHEN len(cs_{x}) >= 2 THEN cs_{x}[2].e END AS cs1_{x},
           list_filter(cs_{x}, t -> t.conf * len(cs_{x}) >= 1.0) AS above_{x}"""

    def stage2(x: str, prec_sql: str, ok_sql: str) -> str:
        """chain + cross flag columns for one side."""
        fp = _flip_sql(f"pred_{x}")
        fcs0 = _flip_sql(f"cs0_{x}")
        fci0 = _flip_sql(f"ci0_{x}")
        fcs1 = _flip_sql(f"cs1_{x}")
        m1 = _base_sql(f"cs0_{x}")
        m1ci = _base_sql(f"ci0_{x}")
        m2cs = _base_sql(f"cs1_{x}")
        second = (
            f"CASE WHEN cs1_{x} IS NOT NULL AND "
            f"len(list_filter(above_{x}, t -> t.e = {m2cs})) > 0 "
            f"THEN {fcs0} || '/' || {fcs1} ELSE {fp} END"
        )
        chain = (
            f"CASE WHEN {m1} <> base_{x} THEN {fp} || '/' || {fcs0} "
            f"WHEN {m1} <> {m1ci} AND list_contains({prec_sql}, {m1ci}) "
            f"THEN {fcs0} || '/' || {fci0} "
            f"ELSE {second} END AS chain_{x}"
        )
        cross = (
            f"len(list_filter(above_{x}, "
            f"t -> NOT list_contains({ok_sql}, {_base_sql('t.e')}))) > 0 AS cross_{x}"
        )
        return chain + ",\n           " + cross

    flip_a = _flip_sql("pred_a")
    flip_b = _flip_sql("pred_b")
    mat = ["sents", "tokens", "mentions"] + [
        p + n
        for p in ("a_", "b_")
        for n in ("base", "jf", "sides", "lab", "allconf", "pooled", "typed", "numeric_m")
    ]
    return _materialize(
        "WITH " + SENTS_CTE.strip().rstrip(",")
        + ", " + TOKENS_CTE.strip()
        + ", " + MENTIONS_CTE.strip()
        + ", " + _typed_cte(model_a, "a_").strip()
        + ", " + _typed_cte(model_b, "b_").strip()
        + ", " + _dist_cte("a_").strip()
        + ", " + _dist_cte("b_").strip()
        + f"""
, joined AS (
    SELECT a.url, a.sent_idx, a.mention_idx, a.surface,
           a.pred_group AS base_a, a.prediction AS pred_a, a.conf AS conf_a,
           a.cs_dist AS cs_a, a.ci_dist AS ci_a,
           b.pred_group AS base_b, b.prediction AS pred_b, b.conf AS conf_b,
           b.cs_dist AS cs_b, b.ci_dist AS ci_b
    FROM a_typed_d a JOIN b_typed_d b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.mention_idx = b.mention_idx
),
der AS (
    SELECT *,{derived("a")},{derived("b")}
    FROM joined
),
st2 AS (
    SELECT *,
           {stage2("a", bio_prec, bio_ok)},
           {stage2("b", phi_prec, phi_ok)}
    FROM der
)
SELECT url, sent_idx, mention_idx, surface, pred_a, pred_b,
    CASE
      WHEN base_a = base_b THEN
        CASE WHEN list_contains({bio_prec}, base_a) THEN chain_a ELSE chain_b END
      WHEN base_b = 'OTHER' THEN chain_a
      WHEN base_a = 'OTHER' THEN chain_b
      WHEN cross_a AND NOT cross_b THEN chain_b
      WHEN cross_b AND NOT cross_a THEN chain_a
      WHEN conf_a >= conf_b THEN {flip_a} || '/' || {flip_b}
      ELSE {flip_b} || '/' || {flip_a}
    END AS resolution
FROM st2
""",
        *mat,
    )


def _v1_pick_sql(pred_a: str, pred_b: str, bio_prec: str, phi_prec: str) -> str:
    """v1 precedence pick (aggregate_server.py:105-131 + override quirks
    :90-103) — pipeline/ensemble_v1.v1_pick_expr twin."""
    ga, gb = _base_sql(pred_a), _base_sql(pred_b)
    return f"""CASE WHEN list_contains({bio_prec}, {ga}) THEN
             CASE WHEN {gb} IN ('SOCIAL_CIRCUMSTANCES', 'ORGANIZATION')
                  THEN {gb} || '/' || {ga}
                  WHEN {ga} = 'MEASURE' AND list_contains({phi_prec}, {gb})
                  THEN {pred_b}
                  ELSE {pred_a} END
           WHEN list_contains({phi_prec}, {gb}) THEN {pred_b}
           ELSE {pred_b} END"""


def _prec_sql() -> tuple[str, str]:
    """The v1 server's OWN hard-coded precedence arrays
    (aggregate_server.py:15-37) — not the v2 config lists."""
    from unsupervised_ner_spark.pipeline.ensemble_v1 import (
        V1_BIO_PRECEDENCE,
        V1_PHI_PRECEDENCE,
    )

    arr = lambda xs: "[" + ", ".join(f"'{x}'" for x in xs) + "]"  # noqa: E731
    return arr(V1_BIO_PRECEDENCE), arr(V1_PHI_PRECEDENCE)


_TYPED_HEAVY = ("base", "jf", "sides", "lab", "allconf", "pooled", "typed", "numeric_m")


def kg_ensemble_v1_tags(model_a: str = "a100", model_b: str = "bbc") -> str:
    """v1 text-mode ensemble (pipeline/ensemble_v1.ensemble_v1_tags twin):
    two typing chains over the SAME tokenization, per-mention v1 precedence
    pick, min-span, gen_ensembled_sentence-style BIO emission
    (aggregate_server.py:87-163)."""
    bio_prec, phi_prec = _prec_sql()
    pick = _v1_pick_sql("a.prediction", "b.prediction", bio_prec, phi_prec)
    mat = ["sents", "tokens", "mentions"] + [
        p + n for p in ("a_", "b_") for n in _TYPED_HEAVY
    ]
    return _materialize(
        "WITH " + SENTS_CTE.strip().rstrip(",")
        + ", " + TOKENS_CTE.strip()
        + ", " + MENTIONS_CTE.strip()
        + ", " + _typed_cte(model_a, "a_").strip()
        + ", " + _typed_cte(model_b, "b_").strip()
        + f"""
, picked AS (
    SELECT a.url, a.sent_idx, a.begin_tok,
           least(a.end_tok, b.end_tok) AS end_tok,
           {pick} AS resolution
    FROM a_typed a JOIN b_typed b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.mention_idx = b.mention_idx
),
expanded AS (
    SELECT p.url, p.sent_idx, CAST(u.ti AS BIGINT) AS token_idx,
           p.begin_tok, p.resolution
    FROM picked p, UNNEST(generate_series(p.begin_tok, p.end_tok)) AS u(ti)
)
SELECT tok.url, CAST(tok.sent_idx AS BIGINT) AS sent_idx,
       CAST(tok.token_idx AS BIGINT) AS token_idx, tok.word,
       CASE WHEN e.resolution IS NULL THEN 'O'
            WHEN tok.token_idx = e.begin_tok THEN 'B_' || e.resolution
            ELSE 'I_' || e.resolution END AS tag
FROM tokens tok
LEFT JOIN expanded e ON tok.url = e.url AND tok.sent_idx = e.sent_idx
                     AND tok.token_idx = e.token_idx
""",
        *mat,
    )


def kg_ensemble_reconciled(model_a: str = "a100", model_b: str = "bbc") -> str:
    """Tokenization-divergence reconciliation
    (pipeline/ensemble_v1.reconciled_token_tags twin): branch B re-tokenizes
    with max-piece-length-6 chunking (``regexp_replace(sent, '(\\S{6})',
    '\\1 ', 'g')`` — deliberately divergent token counts), positions beyond
    min(n_a, n_b) are dropped via the inner token join
    (confirm_same_size_responses, aggregate_server_json.py:331-348), and
    surviving positions resolve via the v1 pick on stripped predictions."""
    bio_prec, phi_prec = _prec_sql()
    strip = lambda t: f"regexp_replace({t}, '^[BI]_', '')"  # noqa: E731
    pa, pb = strip("tag_a"), strip("tag_b")
    pick = _v1_pick_sql(pa, pb, bio_prec, phi_prec)
    mat = (
        ["sents", "bsents", "tokens", "btokens", "mentions", "bmentions"]
        + [p + n for p in ("a_", "b_") for n in _TYPED_HEAVY]
    )
    return _materialize(
        "WITH " + SENTS_CTE.strip().rstrip(",")
        + """
, bsents AS (
    SELECT url, sent_idx,
           trim(regexp_replace(sent, '(\\S{6})', '\\1 ', 'g')) AS sent
    FROM sents
)"""
        + ", " + tokens_cte().strip()
        + ", " + mentions_cte().strip()
        + ", " + tokens_cte("b", "bsents").strip()
        + ", " + mentions_cte("b").strip()
        + ", " + _typed_cte(model_a, "a_").strip()
        + ", " + _typed_cte(model_b, "b_", "bmentions", "bsents").strip()
        + f"""
, a_expanded AS (
    SELECT t.url, t.sent_idx, CAST(u.ti AS BIGINT) AS token_idx,
           t.begin_tok, t.prediction
    FROM a_typed t, UNNEST(generate_series(t.begin_tok, t.end_tok)) AS u(ti)
),
a_tags AS (
    SELECT tok.url, tok.sent_idx, tok.token_idx, tok.word AS word_a,
           CASE WHEN e.prediction IS NULL THEN 'O'
                WHEN tok.token_idx = e.begin_tok THEN 'B_' || e.prediction
                ELSE 'I_' || e.prediction END AS tag_a
    FROM tokens tok
    LEFT JOIN a_expanded e ON tok.url = e.url AND tok.sent_idx = e.sent_idx
                           AND tok.token_idx = e.token_idx
),
b_expanded AS (
    SELECT t.url, t.sent_idx, CAST(u.ti AS BIGINT) AS token_idx,
           t.begin_tok, t.prediction
    FROM b_typed t, UNNEST(generate_series(t.begin_tok, t.end_tok)) AS u(ti)
),
b_tags AS (
    SELECT tok.url, tok.sent_idx, tok.token_idx, tok.word AS word_b,
           CASE WHEN e.prediction IS NULL THEN 'O'
                WHEN tok.token_idx = e.begin_tok THEN 'B_' || e.prediction
                ELSE 'I_' || e.prediction END AS tag_b
    FROM btokens tok
    LEFT JOIN b_expanded e ON tok.url = e.url AND tok.sent_idx = e.sent_idx
                           AND tok.token_idx = e.token_idx
)
SELECT a.url, CAST(a.sent_idx AS BIGINT) AS sent_idx,
       CAST(a.token_idx AS BIGINT) AS token_idx,
       a.word_a, b.word_b, a.tag_a, b.tag_b,
       CASE WHEN tag_a = 'O' AND tag_b = 'O' THEN 'O'
            WHEN tag_a = 'O' THEN {pb}
            WHEN tag_b = 'O' THEN {pa}
            ELSE {pick} END AS resolution
FROM a_tags a JOIN b_tags b
  ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.token_idx = b.token_idx
""",
        *mat,
    )


def er_exact_canonical(model: str = "a100") -> str:
    """Exact canonicalization over the typed mentions of the KG chain:
    (norm_surface, etype) -> node_id + stats (pipeline/er.py twin)."""
    return (
        _kg_prefix(model)
        + """
, occ AS (
    SELECT trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface,
           pred_group AS etype, surface
    FROM typed WHERE pred_group <> 'OTHER'
)
SELECT md5(norm_surface || '|' || etype) AS node_id,
       norm_surface, etype,
       count(*) AS n_mentions,
       min(surface) AS canonical_surface
FROM occ WHERE length(norm_surface) > 0
GROUP BY norm_surface, etype
"""
    )


def kg_cooccurrence(model: str = "a100") -> str:
    """Sentence-level entity co-occurrence edges (pipeline/er.py
    cooccurrence_edges twin): distinct normalized entities per sentence,
    lexicographic "ent|etype" pair ordering (ASCII-safe), corpus-wide
    sentence and document counts."""
    return _materialize(
        _kg_prefix(model)
        + """
, ent AS (
    SELECT DISTINCT url, sent_idx,
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS ent,
           pred_group AS etype
    FROM typed WHERE pred_group <> 'OTHER'
),
ent2 AS (
    SELECT * FROM ent WHERE length(ent) > 0
),
cpairs AS (
    SELECT a.url, a.ent AS ent_a, a.etype AS type_a,
           b.ent AS ent_b, b.etype AS type_b
    FROM ent2 a JOIN ent2 b
      ON a.url = b.url AND a.sent_idx = b.sent_idx
     AND (a.ent || '|' || a.etype) < (b.ent || '|' || b.etype)
)
SELECT ent_a, type_a, ent_b, type_b,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM cpairs GROUP BY ent_a, type_a, ent_b, type_b
""",
        "ent2",
    )


def kg_cooccurrence_npmi(model: str = "a100") -> str:
    """Weighted co-occurrence twin (pipeline/er.py
    cooccurrence_weighted_edges): edges + integer NPMI sufficient
    statistics — n_pair, the n_a/n_b entity marginals, and the sentence
    universe n_total. Log-free: the float NPMI is a derived column on the
    engine side (er.with_npmi) and never enters the hashed surface."""
    return _materialize(
        _kg_prefix(model)
        + """
, ent AS (
    SELECT DISTINCT url, sent_idx,
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS ent,
           pred_group AS etype
    FROM typed WHERE pred_group <> 'OTHER'
),
ent2 AS (
    SELECT * FROM ent WHERE length(ent) > 0
),
cpairs AS (
    SELECT a.url, a.ent AS ent_a, a.etype AS type_a,
           b.ent AS ent_b, b.etype AS type_b
    FROM ent2 a JOIN ent2 b
      ON a.url = b.url AND a.sent_idx = b.sent_idx
     AND (a.ent || '|' || a.etype) < (b.ent || '|' || b.etype)
),
edges AS (
    SELECT ent_a, type_a, ent_b, type_b,
           CAST(count(*) AS BIGINT) AS n_pair,
           CAST(count(DISTINCT url) AS BIGINT) AS n_docs
    FROM cpairs GROUP BY ent_a, type_a, ent_b, type_b
),
marg AS (
    SELECT ent, etype, CAST(count(*) AS BIGINT) AS n_ent
    FROM ent2 GROUP BY ent, etype
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_total
    FROM (SELECT DISTINCT url, sent_idx FROM ent2)
)
SELECT e.ent_a, e.type_a, e.ent_b, e.type_b,
       e.n_pair, ma.n_ent AS n_a, mb.n_ent AS n_b, t.n_total, e.n_docs
FROM edges e
JOIN marg ma ON ma.ent = e.ent_a AND ma.etype = e.type_a
JOIN marg mb ON mb.ent = e.ent_b AND mb.etype = e.type_b
CROSS JOIN tot t
""",
        "ent2",
    )


def kg_entity_degree(model: str = "a100") -> str:
    """Per-entity co-occurrence degree (pipeline/er.py entity_degree
    twin): symmetrize the aggregated edge table, one entity-keyed
    aggregate — all integers."""
    return f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a AS ent, type_a AS etype, n_sents, n_docs FROM eg
    UNION ALL
    SELECT ent_b AS ent, type_b AS etype, n_sents, n_docs FROM eg
)
SELECT ent, etype,
       CAST(count(*) AS BIGINT) AS degree,
       CAST(sum(n_sents) AS BIGINT) AS n_cooc_sents,
       CAST(sum(n_docs) AS BIGINT) AS n_cooc_docs
FROM sym GROUP BY ent, etype
"""


def txt_sample_hash(keep_buckets: int = 1024) -> str:
    """Deterministic hash sample (ops/sampling.py hash_sample twin): keep
    docs whose 3-hex-char md5 prefix sorts below the bucket threshold —
    string comparison over ASCII hex, identical in both engines."""
    return f"""
SELECT doc_id, lang FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '{keep_buckets:03x}'
"""


def txt_sample_balanced() -> str:
    """Exact balanced downsampling twin (ops/sampling.py balanced_sample):
    every language stratum cut to the smallest stratum's size in md5
    order."""
    return """
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
m AS (SELECT CAST(min(n) AS BIGINT) AS min_n FROM c),
r AS (
    SELECT doc_id, lang,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
    FROM documents
)
SELECT doc_id, lang, rank FROM r, m WHERE rank <= min_n
"""


def _split_case(
    group: str = "source", train_buckets: int = 3277, val_buckets: int = 3687
) -> str:
    """Shared split CASE (ops/sampling.py split_assign twin): md5 hex
    prefix of the GROUP string against the bucket thresholds — string
    comparison over ASCII hex, identical in both engines."""
    b = f"substring(md5({group}), 1, 3)"
    return (
        f"CASE WHEN {b} < '{train_buckets:03x}' THEN 'train' "
        f"WHEN {b} < '{val_buckets:03x}' THEN 'val' ELSE 'test' END"
    )


def txt_split_assign() -> str:
    """Group-level train/val/test split twin (ops/sampling.py
    split_assign): every doc inherits md5-bucket split of its source."""
    return f"""
SELECT doc_id, source, {_split_case()} AS split FROM documents
"""


def txt_split_leakage() -> str:
    """Near-dup split-leakage screen twin (ops/sampling.py split_leakage):
    the MinHash-LSH candidate-pair chain with each endpoint's group-level
    split attached and leak = split_a <> split_b."""
    return f"""
WITH splits AS (SELECT doc_id, {_split_case()} AS split FROM documents),
pairs AS (SELECT * FROM ({dedup_minhash_lsh()}) q)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b,
       sa.split <> sb.split AS leak
FROM pairs p
JOIN splits sa ON p.doc_a = sa.doc_id
JOIN splits sb ON p.doc_b = sb.doc_id
"""


def txt_curated_manifest(k_mix: int = 4) -> str:
    """Curation-manifest twin (ops/curation.py curated_manifest): quality
    CASE + LSH/CC duplicate clusters + split CASE composed, then the
    sqrt-mix cap computed over the SURVIVOR pool (stage order is part of
    the contract)."""
    return _materialize(
        f"""
WITH q AS (SELECT * FROM ({txt_quality()}) zq),
cl AS (SELECT * FROM ({dedup_clusters()}) zc),
flagged AS (
    SELECT d.doc_id, d.lang, d.source, q.quality,
           COALESCE(cl.doc_id <> cl.cluster_id, FALSE) AS is_dup,
           {_split_case("d.source")} AS split
    FROM documents d
    JOIN q USING (doc_id)
    LEFT JOIN cl ON d.doc_id = cl.doc_id
),
surv AS (SELECT doc_id, source FROM flagged WHERE quality = 'good' AND NOT is_dup),
c AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS est
    FROM surv GROUP BY source
),
capd AS (
    SELECT source, least(n_docs, {k_mix} * {_isqrt_sql('n_docs', 'est')}) AS cap
    FROM c
),
r AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
    FROM surv
),
kept AS (SELECT r.doc_id FROM r JOIN capd USING (source) WHERE r.rank <= capd.cap)
SELECT f.doc_id, f.lang, f.source, f.quality, f.is_dup, f.split,
       (f.quality = 'good' AND NOT f.is_dup AND kept.doc_id IS NOT NULL) AS keep
FROM flagged f LEFT JOIN kept ON f.doc_id = kept.doc_id
""",
        "flagged",
        "surv",
    )


def _isqrt_sql(n: str = "n_docs", e: str = "est") -> str:
    """Exact integer FLOOR square root in SQL — twin of
    ``ops/sampling.isqrt_floor_col``. ``e`` must be the float estimate
    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT), within +-1 of the
    truth for any BIGINT; two exact integer corrections pin it."""
    r = f"({e} - CASE WHEN {e}*{e} > {n} THEN 1 ELSE 0 END)"
    return f"({r} + CASE WHEN ({r}+1)*({r}+1) <= {n} THEN 1 ELSE 0 END)"


def txt_mix_sqrt(k: int = 4) -> str:
    """Temperature-balanced mix-sampling twin (ops/sampling.py
    sqrt_mix_sample): every source capped at k * isqrt(n_source) docs in
    md5 order — alpha=0.5 mix flattening in exact integer arithmetic."""
    return f"""
WITH c AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS est
    FROM documents GROUP BY source
),
capd AS (
    SELECT source, n_docs,
           least(n_docs, {k} * {_isqrt_sql('n_docs', 'est')}) AS cap
    FROM c
),
r AS (
    SELECT doc_id, source,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
    FROM documents
)
SELECT r.doc_id, r.source, r.rank, CAST(capd.cap AS BIGINT) AS cap, capd.n_docs
FROM r JOIN capd USING (source) WHERE r.rank <= capd.cap
"""


def txt_fertility() -> str:
    """Tokenizer-fertility twin (ops/textstats.py fertility_stats):
    per-language integer sufficient statistics — doc count, char sum,
    whitespace-token sum, BPE-ish-subunit sum."""
    return """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS n_chars,
       CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_ws_tokens,
       CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> ''))) AS BIGINT) AS n_bpe_tokens
FROM documents GROUP BY lang
"""


def txt_length_hist(
    ps: tuple[int, ...] = (25, 50, 90, 99),
    bin_width: int = 8,
    max_bins: int = 1024,
) -> str:
    """Histogram-sketch percentile twin (ops/textstats.py
    length_hist_quantiles): bounded integer histogram, cumulative rank
    pick with the exact (n*p+99)//100 integer ceiling — no float
    division."""
    ps_rows = ", ".join(f"({p})" for p in ps)
    last = max_bins - 1
    return f"""
WITH tk AS (
    SELECT lang,
           least(CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x <> '')) AS BIGINT) // {bin_width},
                 {last}) AS bin
    FROM documents
),
hist AS (SELECT lang, bin, CAST(count(*) AS BIGINT) AS n FROM tk GROUP BY lang, bin),
cum AS (
    SELECT lang, bin,
           CAST(sum(n) OVER (PARTITION BY lang ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS n_docs,
           CAST(sum(n) OVER (PARTITION BY lang ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS cum_prev
    FROM hist
),
ps AS (SELECT * FROM (VALUES {ps_rows}) v(pct))
SELECT c.lang, CAST(p.pct AS BIGINT) AS pct, c.bin,
       CAST(c.bin * {bin_width} AS BIGINT) AS lo,
       CAST(CASE WHEN c.bin = {last} THEN -1
                 ELSE (c.bin + 1) * {bin_width} END AS BIGINT) AS hi,
       c.n_docs
FROM cum c JOIN ps p
  ON c.cum >= greatest(1, (c.n_docs * p.pct + 99) // 100)
 AND c.cum_prev < greatest(1, (c.n_docs * p.pct + 99) // 100)
"""


def txt_bigram_lm(min_pair: int = 2) -> str:
    """Bigram LM sufficient-statistics twin (ops/textstats.py bigram_lm):
    adjacent-token pairs from the token list (1-based DuckDB indexing),
    pair counts + left marginal + Kneser-Ney continuation count computed
    on the FULL pair table, min_pair pruning only the emitted rows."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT t[g.i] AS w1, t[g.i + 1] AS w2
    FROM tk, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
pairs AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
),
lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM pairs GROUP BY w1),
cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont_w2 FROM pairs GROUP BY w2)
SELECT p.w1, p.w2, p.n_pair, l.n_w1, c.cont_w2
FROM pairs p JOIN lft l USING (w1) JOIN cont c USING (w2)
WHERE p.n_pair >= {min_pair}
""",
        "pairs",
    )


def txt_postings(k: int = 8, min_df: int = 2) -> str:
    """Capped inverted-index posting-list twin (ops/textstats.py
    postings_topk): per-term top-k docs by (tf DESC, doc_id ASC) over
    whitespace-lowercase tokens, hapax tail pruned by min_df."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id, lower(u.t) AS term
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tk GROUP BY doc_id, term
),
dft AS (
    SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf
    GROUP BY term HAVING count(*) >= {min_df}
),
ranked AS (
    SELECT tf.term, dft.df, tf.doc_id, tf.tf,
           CAST(row_number() OVER (PARTITION BY tf.term
                                   ORDER BY tf.tf DESC, tf.doc_id ASC) AS BIGINT) AS rank
    FROM tf JOIN dft USING (term)
)
SELECT term, df, doc_id, tf, rank FROM ranked WHERE rank <= {k}
""",
        "tf",
    )


def _er_chain(
    model: str = "a100",
    num_hashes: int = 6,
    band_size: int = 2,
    jaccard_threshold: float = 0.7,
    max_bucket: int | None = None,
) -> str:
    """Shared ER CTE chain (pipeline/er.py resolve_entities twin): exact
    canonical nodes -> char-3-gram MinHash-LSH candidate edges (per-etype
    bands, bucket cap) -> exact Jaccard verify -> connected components via a
    RECURSIVE CTE (min reachable node id == the min-label-propagation
    fixpoint the Spark loop converges to). Ends at ``merged`` (nodes +
    component); callers append their aggregation/join tail."""
    shingle = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(length(padded) - 2, 1)), "
        "i -> substr(padded, i, 3)))"
    )
    mat = ("typed", "nodes2", "shs", "bok")
    mins = ", ".join(
        f"min(md5('{i}:' || sh)) AS mh_{i}" for i in range(num_hashes)
    )
    band_rows = []
    for b in range(num_hashes // band_size):
        cols = " || '|' || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_rows.append(
            f"SELECT node_id, etype, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    # fuzzy_edges adaptive-cap twin: clamp(icbrt_ceil(n_nodes), 100, 5000)
    # over the nodes CTE (nodes = distinct canonical surfaces); exact
    # integer cube root, same construction as the engine (ADVICE r04)
    cap_bound = (
        str(max_bucket)
        if max_bucket is not None
        else "(SELECT GREATEST(100, LEAST(5000, "
             + _icbrt_ceil_sql()
             + ")) FROM (SELECT count(*) AS n, "
             "CAST(round(pow(count(*), 1.0/3), 0) AS BIGINT) AS c FROM nodes2))"
    )
    prefix = _kg_prefix(model).replace("WITH ", "WITH RECURSIVE ", 1)
    return _materialize(
        prefix
        + f"""
, occ2 AS (
    SELECT trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface,
           pred_group AS etype, surface
    FROM typed WHERE pred_group <> 'OTHER'
),
nodes2 AS (
    SELECT md5(norm_surface || '|' || etype) AS node_id,
           norm_surface, etype,
           count(*) AS n_mentions,
           min(surface) AS canonical_surface
    FROM occ2 WHERE length(norm_surface) > 0
    GROUP BY norm_surface, etype
),
shs AS (
    SELECT node_id, etype, {shingle} AS shset
    FROM (SELECT node_id, etype, '^' || norm_surface || '$' AS padded FROM nodes2)
),
shx AS (SELECT node_id, etype, unnest(shset) AS sh FROM shs),
sig AS (SELECT node_id, etype, {mins} FROM shx GROUP BY node_id, etype),
bands AS ({bands_sql}),
bsizes AS (
    SELECT etype, band_id, band_hash FROM bands
    GROUP BY etype, band_id, band_hash HAVING count(*) <= {cap_bound}
),
bok AS (SELECT b.* FROM bands b JOIN bsizes s USING (etype, band_id, band_hash)),
cand AS (
    SELECT DISTINCT a.node_id AS node_a, b.node_id AS node_b
    FROM bok a JOIN bok b
      ON a.etype = b.etype AND a.band_id = b.band_id
     AND a.band_hash = b.band_hash AND a.node_id < b.node_id
),
vedges AS (
    SELECT c.node_a, c.node_b
    FROM cand c
    JOIN shs sa ON sa.node_id = c.node_a
    JOIN shs sb ON sb.node_id = c.node_b
    WHERE len(list_filter(sa.shset, x -> list_contains(sb.shset, x)))
          >= (len(sa.shset) + len(sb.shset)
              - len(list_filter(sa.shset, x -> list_contains(sb.shset, x))))
             * {jaccard_threshold}
),
esym AS (
    SELECT node_a AS a, node_b AS b FROM vedges
    UNION ALL
    SELECT node_b AS a, node_a AS b FROM vedges
),
reach AS (
    SELECT node_id AS node, node_id AS lab FROM nodes2
    UNION
    SELECT e.b AS node, r.lab FROM reach r JOIN esym e ON e.a = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
merged AS (
    SELECT n.*, c.component FROM nodes2 n JOIN comp c ON c.node = n.node_id
)""",
        *mat,
    )


def er_components(model: str = "a100") -> str:
    """Entity table tail over the shared ER chain."""
    return (
        _er_chain(model)
        + """
, ranked AS (
    SELECT component AS entity_id, etype, canonical_surface, n_mentions,
           row_number() OVER (PARTITION BY component, etype
                              ORDER BY n_mentions DESC, canonical_surface ASC) AS rn,
           sum(n_mentions) OVER (PARTITION BY component, etype) AS total_mentions
    FROM merged
)
SELECT entity_id, etype, canonical_surface,
       CAST(total_mentions AS BIGINT) AS n_mentions
FROM ranked WHERE rn = 1
"""
    )


def kg_canonical_triples(model: str = "a100") -> str:
    """North-rule end table twin: triples (kg_triples chain) with subjects/
    objects resolved to canonical entity ids via the ER membership map
    (pipeline/er.py canonicalize_triples)."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    return _materialize(
        _er_chain(model)
        + f"""
, memb AS (
    SELECT norm_surface, etype, component AS entity_id FROM merged
),
ctyped_f AS (
    SELECT *, row_number() OVER (PARTITION BY url, sent_idx ORDER BY begin_tok) AS rn
    FROM typed WHERE pred_group <> 'OTHER'
),
cpairs AS (
    SELECT a.url, a.sent_idx,
           a.surface AS subj, a.pred_group AS subj_type,
           b.surface AS obj, b.pred_group AS obj_type,
           a.end_tok AS ae, b.begin_tok AS bb
    FROM ctyped_f a JOIN ctyped_f b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND b.rn = a.rn + 1
),
cgaps AS (
    SELECT p.url, p.sent_idx, p.subj, p.subj_type, p.obj, p.obj_type,
           string_agg(lower(t.word), ' ' ORDER BY t.token_idx) AS gap_txt
    FROM cpairs p
    LEFT JOIN tokens t
      ON t.url = p.url AND t.sent_idx = p.sent_idx
     AND t.token_idx > p.ae AND t.token_idx < p.bb
     AND regexp_matches(lower(t.word), '[a-z0-9]')
    GROUP BY ALL
),
ctrip AS (
    SELECT url, sent_idx, subj, subj_type,
           coalesce(nullif(gap_txt, ''), 'related_to') AS pred,
           obj, obj_type
    FROM cgaps
)
SELECT m1.entity_id AS subj_id, t.pred, m2.entity_id AS obj_id,
       t.url, CAST(t.sent_idx AS BIGINT) AS sent_idx,
       t.subj, t.subj_type, t.obj, t.obj_type
FROM ctrip t
JOIN memb m1 ON {norm.format(c='t.subj')} = m1.norm_surface AND t.subj_type = m1.etype
JOIN memb m2 ON {norm.format(c='t.obj')} = m2.norm_surface AND t.obj_type = m2.etype
""",
        "memb",
    )


def dedup_embedding_cosine(threshold_pct: int = 35, n_centroids: int | None = None) -> str:
    """IVF-blocked embedding-cosine near-dup pairs (ops/dedup.py twin)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
ea AS (SELECT e.vec_id, e.v, a.centroid_id FROM e JOIN assign a USING (vec_id)),
pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.v, b.v) /
           (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
    FROM ea a JOIN ea b
      ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b FROM pairs WHERE cos * 100 >= {threshold_pct}
"""


def mm_frames(chunk_bytes: int = 256, every_k: int = 4) -> str:
    """Frame-sampling twin (ops/multimodal.py frame_sample): payload =
    UTF-8 bytes of text, fixed-size byte chunks, every k-th frame hashed."""
    return f"""
WITH m AS (
    SELECT doc_id, upper(hex(encode(text))) AS phex,
           greatest((octet_length(encode(text)) + {chunk_bytes} - 1) // {chunk_bytes}, 1) AS n_frames
    FROM documents
)
SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
       md5(substring(phex, fi * {2 * chunk_bytes} + 1, {2 * chunk_bytes})) AS frame_md5,
       CAST(length(substring(phex, fi * {2 * chunk_bytes} + 1, {2 * chunk_bytes})) // 2 AS BIGINT) AS n_bytes
FROM m, UNNEST(generate_series(0, CAST(n_frames - 1 AS BIGINT), {every_k})) AS u(fi)
"""


def mm_thumbnail(max_side: int = 32) -> str:
    """Resize-plumbing twin (ops/multimodal.py resize_thumbnail): stub dims
    from payload length, aspect-preserving target dims (float truncation),
    md5 of payload + ':WxH'."""
    return f"""
WITH m AS (
    SELECT doc_id, upper(hex(encode(text))) AS phex, octet_length(encode(text)) AS n
    FROM documents
),
d AS (
    SELECT doc_id, phex,
           64 + n % 577 AS w, 64 + (n * 31) % 433 AS h
    FROM m
),
t AS (
    SELECT doc_id, phex,
           greatest(CAST(trunc(w * ({max_side}.0 / greatest(w, h))) AS INT), 1) AS thumb_w,
           greatest(CAST(trunc(h * ({max_side}.0 / greatest(w, h))) AS INT), 1) AS thumb_h
    FROM d
)
SELECT doc_id, CAST(thumb_w AS BIGINT) AS thumb_w, CAST(thumb_h AS BIGINT) AS thumb_h,
       md5(phex || ':' || thumb_w || 'x' || thumb_h) AS thumb_md5
FROM t
"""


def mm_media_meta() -> str:
    return """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(64 + octet_length(encode(text)) % 577 AS BIGINT) AS width,
       CAST(64 + (octet_length(encode(text)) * 31) % 433 AS BIGINT) AS height,
       'image/fake' AS media_type
FROM documents
"""


def kg_triple_support(model: str = "a100") -> str:
    """Cross-document triple support twin (pipeline/er.py triple_support):
    one aggregate over the composed kg_canonical_triples chain. subj_type/
    obj_type are functionally dependent on the ids (node ids hash the
    etype) so min() is exact on both engines."""
    return f"""
WITH ct AS ({kg_canonical_triples(model)})
SELECT subj_id, pred, obj_id,
       min(subj_type) AS subj_type, min(obj_type) AS obj_type,
       CAST(count(*) AS BIGINT) AS n_support,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs,
       min(subj) AS subj_repr, min(obj) AS obj_repr
FROM ct GROUP BY subj_id, pred, obj_id
"""


def kg_ntriples(model: str = "a100") -> str:
    """RDF N-Triples serialization twin (pipeline/er.py to_ntriples):
    predicate slugged to [a-z0-9_] (bytes outside [a-z0-9 ] dropped,
    then trim + whitespace runs -> '_', empty -> 'related_to'); ids are
    md5 hex (URI-safe)."""
    slug = (
        "regexp_replace(trim(regexp_replace(pred, '[^a-z0-9 ]', '', 'g')),"
        " '\\s+', '_', 'g')"
    )
    return f"""
WITH ct AS ({kg_canonical_triples(model)})
SELECT '<urn:kg:e:' || subj_id || '> <urn:kg:r:' ||
       coalesce(nullif({slug}, ''), 'related_to') ||
       '> <urn:kg:e:' || obj_id || '> .' AS ntriple,
       url, CAST(sent_idx AS BIGINT) AS sent_idx
FROM ct
"""


def er_entity_aliases(model: str = "a100") -> str:
    """Alias-table twin (pipeline/er.py entity_aliases): distinct raw
    surface forms per canonical entity with mention counts and the
    (count desc, surface asc) dominance rank."""
    return (
        _er_chain(model)
        + """
, forms AS (
    SELECT trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface,
           pred_group AS etype, surface,
           CAST(count(*) AS BIGINT) AS n_mentions
    FROM typed WHERE pred_group <> 'OTHER'
    GROUP BY ALL
)
SELECT m.component AS entity_id, f.etype, f.surface AS alias, f.n_mentions,
       CAST(row_number() OVER (
            PARTITION BY m.component
            ORDER BY f.n_mentions DESC, f.surface ASC) AS BIGINT) AS rank
FROM forms f
JOIN merged m ON m.norm_surface = f.norm_surface AND m.etype = f.etype
WHERE length(f.norm_surface) > 0
"""
    )


def kg_triangles(model: str = "a100") -> str:
    """Triangle-enumeration twin (pipeline/er.py triangles): node-iterator
    two-join over the aggregated co-occurrence edge table; the stored
    ka < kb edge orientation makes a < b < c canonical, so each triangle
    appears exactly once."""
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
)
SELECT string_split(e1.ka, '|')[1] AS ent_a, string_split(e1.ka, '|')[2] AS type_a,
       string_split(e1.kb, '|')[1] AS ent_b, string_split(e1.kb, '|')[2] AS type_b,
       string_split(e2.kb, '|')[1] AS ent_c, string_split(e2.kb, '|')[2] AS type_c
FROM ek e1
JOIN ek e2 ON e2.ka = e1.kb
JOIN ek e3 ON e3.ka = e1.ka AND e3.kb = e2.kb
""",
        "ek",
    )


def txt_redact() -> str:
    """PII-redaction twin (ops/textstats.py redact_pii): the deterministic
    synthetic contact header (same doc_id-derived expression as the Spark
    query), then email -> phone -> number redaction in stage order with
    pre-stage match counts. Patterns are imported from the engine module —
    the twins share one definition."""
    from unsupervised_ner_spark.ops.textstats import EMAIL_RE, NUM_RE, PHONE_RE

    return f"""
WITH dirty AS (
    SELECT doc_id,
           concat_ws(' ',
               'user' || CAST(doc_id AS VARCHAR) || '@mail.example.com',
               '555-01' || CAST(doc_id % 100 AS VARCHAR),
               'ref ' || CAST(doc_id * 7 + 13 AS VARCHAR),
               text) AS t
    FROM documents
),
s1 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS t
    FROM dirty
),
s2 AS (
    SELECT doc_id, n_emails,
           CAST(len(regexp_extract_all(t, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(t, '{PHONE_RE}', '<PHONE>', 'g') AS t
    FROM s1
)
SELECT doc_id,
       regexp_replace(t, '{NUM_RE}', '<NUM>', 'g') AS red_text,
       n_emails, n_phones,
       CAST(len(regexp_extract_all(t, '{NUM_RE}')) AS BIGINT) AS n_nums
FROM s2
"""


def txt_length_pct() -> str:
    """Discrete per-language token-count percentile twin
    (ops/textstats.py length_percentiles): rank = ceil(p/100 * n) via
    integer arithmetic ((n*p + 99) // 100) — no float division, so both
    engines pick the identical rank for every (n, p)."""
    return f"""
WITH base AS (
    SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
),
ranked AS (
    SELECT lang, n_tokens,
           row_number() OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n_docs
    FROM base
)
SELECT lang, CAST(p AS BIGINT) AS pct,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_docs AS BIGINT) AS n_docs
FROM ranked, UNNEST([10, 50, 90]) AS u(p)
WHERE rn = GREATEST(1, (n_docs * p + 99) // 100)
"""


def kg_common_neighbors(model: str = "a100") -> str:
    """Common-neighbor twin (pipeline/er.py common_neighbors): symmetrized
    adjacency, degree-capped middle nodes (shared exact integer cube root,
    clamp [16, 4096] over the symmetric edge count), pair aggregation,
    full degrees + known-link flag."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c FROM sym))"
    )
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
sym AS (
    SELECT ka AS mid, kb AS nb FROM ek
    UNION ALL
    SELECT kb AS mid, ka AS nb FROM ek
),
deg AS (SELECT mid, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY mid),
mids AS (
    SELECT s.mid, s.nb FROM sym s JOIN deg d USING (mid)
    WHERE d.deg <= {cap}
),
cn AS (
    SELECT a.nb AS kx, b.nb AS ky, CAST(count(*) AS BIGINT) AS n_common
    FROM mids a JOIN mids b ON a.mid = b.mid AND a.nb < b.nb
    GROUP BY a.nb, b.nb
)
SELECT string_split(c.kx, '|')[1] AS ent_x, string_split(c.kx, '|')[2] AS type_x,
       string_split(c.ky, '|')[1] AS ent_y, string_split(c.ky, '|')[2] AS type_y,
       c.n_common, dx.deg AS deg_x, dy.deg AS deg_y,
       CAST(CASE WHEN e.ka IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS linked
FROM cn c
JOIN deg dx ON dx.mid = c.kx
JOIN deg dy ON dy.mid = c.ky
LEFT JOIN ek e ON e.ka = c.kx AND e.kb = c.ky
""",
        "ek", "sym", "deg", "mids",
    )


def _pq_ctes(m: int, ksub: int) -> str:
    """Shared PQ CTE fragment (ops/simsearch.py _subspaces/pq_subcodebook/
    pq_codes twins): md5-sampled sub-codebook, exploded subspaces, 9dp
    argmin codes. Requires an ``e(vec_id, v)`` CTE in scope."""
    w = "(len(v) // {m})".format(m=m)
    d2 = (
        "round(list_dot_product(subv, subv) - 2 * list_dot_product(subv, scv)"
        " + list_dot_product(scv, scv), 9)"
    )
    return f"""
smp AS (
    SELECT vec_id, v,
           row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rk
    FROM e
),
cb AS (
    SELECT CAST(sub_id AS BIGINT) AS sub_id, vec_id AS code,
           list_slice(v, sub_id * {w} + 1, (sub_id + 1) * {w}) AS scv
    FROM smp, UNNEST(generate_series(0, {m - 1})) AS u(sub_id)
    WHERE rk <= {ksub}
),
sub AS (
    SELECT vec_id, CAST(sub_id AS BIGINT) AS sub_id,
           list_slice(v, sub_id * {w} + 1, (sub_id + 1) * {w}) AS subv
    FROM e, UNNEST(generate_series(0, {m - 1})) AS u(sub_id)
),
pd AS (
    SELECT sub.vec_id, sub.sub_id, cb.code, {d2} AS d2
    FROM sub JOIN cb USING (sub_id)
),
pqcodes AS (
    SELECT vec_id, sub_id, code FROM (
        SELECT vec_id, sub_id, code,
               row_number() OVER (PARTITION BY vec_id, sub_id
                                  ORDER BY d2 ASC, code ASC) AS rn
        FROM pd) WHERE rn = 1
)"""


def ann_pq_codes(m: int = 4, ksub: int = 16) -> str:
    """PQ code-table twin (ops/simsearch.py pq_codes)."""
    return _materialize(
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_pq_ctes(m, ksub).strip()}
SELECT vec_id, sub_id, code FROM pqcodes
""",
        "cb", "sub",
    )


def ann_ivfpq_topk(
    n_queries: int = 5, k: int = 5, m: int = 4, ksub: int = 16,
    n_centroids: int | None = None,
) -> str:
    """IVF-PQ ADC twin (ops/simsearch.py ivfpq_topk): integer per-subspace
    distances (9dp round, ×1e9, round 0) summed exactly — order-free on
    both engines."""
    dint = (
        "CAST(round(round(list_dot_product(subv, subv)"
        " - 2 * list_dot_product(subv, scv)"
        " + list_dot_product(scv, scv), 9) * 1e9, 0) AS BIGINT)"
    )
    return _materialize(
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
{_pq_ctes(m, ksub).strip()},
dt AS (
    SELECT sub.vec_id AS query_id, sub.sub_id, cb.code, {dint} AS dint
    FROM sub JOIN cb USING (sub_id)
    WHERE sub.vec_id < {n_queries}
),
qcell AS (
    SELECT vec_id AS query_id, centroid_id AS qc
    FROM assign WHERE vec_id < {n_queries}
),
candc AS (
    SELECT pc.vec_id, pc.sub_id, pc.code, q.query_id
    FROM pqcodes pc
    JOIN assign a USING (vec_id)
    JOIN qcell q ON a.centroid_id = q.qc
    WHERE pc.vec_id <> q.query_id
),
adc AS (
    SELECT query_id, vec_id, CAST(sum(dint) AS BIGINT) AS adc_i
    FROM candc JOIN dt USING (query_id, sub_id, code)
    GROUP BY query_id, vec_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id, adc_i
FROM (
    SELECT query_id, vec_id, adc_i,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_i ASC, vec_id ASC) AS rank
    FROM adc)
WHERE rank <= {k}
""",
        "cb", "sub", "pqcodes", "assign",
    )


def kg_pagerank(
    model: str = "a100", iterations: int = 3, scale: int = 1_000_000_000
) -> str:
    """Integer PageRank twin (pipeline/er.py pagerank): symmetrized
    adjacency over the co-occurrence edge table, ``iterations`` unrolled
    power steps with the SAME long arithmetic — ``rank' = tele + (85 *
    sum(rank // deg)) // 100`` — so the ranks are bit-exact across
    engines (no float summation order, no epsilon)."""
    tele = 15 * scale // 100
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        steps.append(
            f"""{cur} AS (
    SELECT d.k, d.deg,
           CAST({tele} + (85 * COALESCE(SUM(r.rank // r.deg), 0)) // 100
                AS BIGINT) AS rank
    FROM deg d
    LEFT JOIN sym s ON s.dst = d.k
    LEFT JOIN {prev} r ON r.k = s.src
    GROUP BY d.k, d.deg
)"""
        )
        prev = cur
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
deg AS (
    SELECT src AS k, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src
),
r0 AS (SELECT k, deg, CAST({scale} AS BIGINT) AS rank FROM deg),
{chain}
SELECT string_split(k, '|')[1] AS ent, string_split(k, '|')[2] AS etype,
       deg, rank AS rank_scaled
FROM {prev}
""",
        "sym", "deg",
    )


def kg_paths_2hop(model: str = "a100") -> str:
    """Two-hop path twin (pipeline/er.py paths_2hop): distinct canonical
    edges from the triple_support chain, middle nodes gated by the shared
    adaptive degree cap (exact integer cube root of the edge count,
    clamp [16, 4096]) on BOTH in- and out-degree, equi-join on the middle
    entity id, cycle flag."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c "
        "FROM sup))"
    )
    return _materialize(
        f"""
WITH ts AS ({kg_triple_support(model)})
, sup AS (
    SELECT subj_id, pred, obj_id, subj_type, obj_type, n_docs,
           subj_repr, obj_repr
    FROM ts
),
outd AS (SELECT subj_id AS k, CAST(count(*) AS BIGINT) AS out_deg
         FROM sup GROUP BY subj_id),
ind AS (SELECT obj_id AS k, CAST(count(*) AS BIGINT) AS in_deg
        FROM sup GROUP BY obj_id),
mids AS (
    SELECT o.k AS mid_ok FROM outd o JOIN ind i ON i.k = o.k
    WHERE o.out_deg <= {cap} AND i.in_deg <= {cap}
)
SELECT e1.subj_id AS a_id, e1.subj_type AS a_type, e1.subj_repr AS a_repr,
       e1.pred AS pred_ab,
       e1.obj_id AS mid_id, e1.obj_type AS mid_type, e1.obj_repr AS mid_repr,
       e2.pred AS pred_bc,
       e2.obj_id AS c_id, e2.obj_type AS c_type, e2.obj_repr AS c_repr,
       e1.n_docs AS n_docs_ab, e2.n_docs AS n_docs_bc,
       CAST(CASE WHEN e1.subj_id = e2.obj_id THEN 1 ELSE 0 END AS BIGINT)
           AS is_cycle
FROM sup e1
JOIN mids m ON m.mid_ok = e1.obj_id
JOIN sup e2 ON e2.subj_id = e1.obj_id
""",
        "sup",
    )


def txt_line_dedup(max_df: int = 2) -> str:
    """Line-level dedup twin (ops/textstats.py line_dedup + the entry
    wrapper's deterministic multi-line construction): per-source header,
    8-word body wrap, every-third-doc footer; drop lines whose normalized
    form appears in more than ``max_df`` distinct docs; hash the exact
    retained text (string_agg ORDER BY line index, '' when empty)."""
    return _materialize(
        f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws, source FROM documents
),
dirty AS (
    SELECT doc_id,
           '(c) ' || source || ' media network all rights reserved'
           || chr(10)
           || array_to_string(
                list_transform(
                    range((len(ws) + 7) // 8),
                    i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')),
                chr(10))
           || CASE WHEN doc_id % 3 = 0
                   THEN chr(10) || 'subscribe to our newsletter for daily updates'
                   ELSE '' END AS text
    FROM w
),
lx AS (
    SELECT d.doc_id, u.i AS idx, string_split(d.text, chr(10))[u.i + 1] AS line
    FROM dirty d,
         UNNEST(generate_series(0, len(string_split(d.text, chr(10))) - 1))
             AS u(i)
),
ln AS (SELECT doc_id, idx, line, trim(lower(line)) AS norm FROM lx),
freq AS (
    SELECT norm, CAST(count(DISTINCT doc_id) AS BIGINT) AS line_df
    FROM ln GROUP BY norm
),
j AS (SELECT l.*, f.line_df FROM ln l JOIN freq f USING (norm))
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(count(*) FILTER (WHERE line_df <= {max_df}) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE line_df > {max_df}) AS BIGINT) AS n_dropped,
       CAST(length(COALESCE(string_agg(line, chr(10) ORDER BY idx)
                            FILTER (WHERE line_df <= {max_df}), ''))
            AS BIGINT) AS kept_chars,
       md5(COALESCE(string_agg(line, chr(10) ORDER BY idx)
                    FILTER (WHERE line_df <= {max_df}), '')) AS kept_md5
FROM j GROUP BY doc_id
""",
        "ln",
    )


def ann_range_search(n_queries: int = 5, tau: float = 0.2) -> str:
    """Range-search twin (ops/simsearch.py range_search): broadcast query
    set, 9dp-rounded cosine threshold, integer cos_mil bucket."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
s AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           round(list_dot_product(e.v, q.qv)
                 / (sqrt(list_dot_product(e.v, e.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 9) AS c
    FROM e, q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id,
       CAST(floor(c * 1000) AS BIGINT) AS cos_mil
FROM s WHERE c >= {tau}
"""


def kg_graph_components(model: str = "a100") -> str:
    """Entity-graph CC twin (pipeline/er.py graph_components): RECURSIVE
    min-reachable-key fixpoint over the symmetrized co-occurrence edges —
    the same certificate the star loop converges to (component id = the
    lexicographic-min member key)."""
    inner = kg_cooccurrence(model)
    return _materialize(
        f"""
WITH RECURSIVE eg AS ({inner})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
nds AS (SELECT ka AS k FROM ek UNION SELECT kb AS k FROM ek),
esym AS (
    SELECT ka AS a, kb AS b FROM ek UNION ALL SELECT kb AS a, ka AS b FROM ek
),
reach AS (
    SELECT k AS node, k AS lab FROM nds
    UNION
    SELECT e.b AS node, r.lab FROM reach r JOIN esym e ON e.a = r.node
),
comp AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
sizes AS (
    SELECT component, CAST(count(*) AS BIGINT) AS comp_size
    FROM comp GROUP BY component
)
SELECT string_split(c.node, '|')[1] AS ent, string_split(c.node, '|')[2] AS etype,
       c.component, s.comp_size
FROM comp c JOIN sizes s USING (component)
""",
        "ek",
    )


def kg_kcore(model: str = "a100", k: int = 3, rounds: int = 4) -> str:
    """k-core peel twin (pipeline/er.py kcore): ``rounds`` unrolled
    synchronous peel rounds (degree >= k survivors restrict the edge
    set), final degree in the surviving subgraph."""
    steps = []
    prev = "sym0"
    mats = []
    for i in range(1, rounds + 1):
        steps.append(
            f"""a{i} AS (
    SELECT src AS k FROM {prev} GROUP BY src HAVING count(*) >= {k}
),
s{i} AS (
    SELECT s.src, s.dst FROM {prev} s
    JOIN a{i} x ON x.k = s.src
    JOIN a{i} y ON y.k = s.dst
)"""
        )
        mats.append(f"s{i}")
        prev = f"s{i}"
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym0 AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
{chain}
SELECT string_split(src, '|')[1] AS ent, string_split(src, '|')[2] AS etype,
       CAST(count(*) AS BIGINT) AS core_deg
FROM {prev} GROUP BY src
""",
        "sym0", *mats[:-1],
    )


def txt_unigram_stats(rare_tf: int = 2) -> str:
    """Unigram rarity-stats twin (ops/textstats.py unigram_stats):
    whitespace tokens lowered, corpus term frequency, per-doc integer
    sufficient statistics."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id, lower(u.t) AS tok
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY tok)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(tf) AS BIGINT) AS sum_tf,
       CAST(min(tf) AS BIGINT) AS min_tf,
       CAST(count(*) FILTER (WHERE tf = 1) AS BIGINT) AS n_hapax,
       CAST(count(*) FILTER (WHERE tf <= {rare_tf}) AS BIGINT) AS n_rare
FROM tk JOIN tf USING (tok)
GROUP BY doc_id
""",
        "tk",
    )


def txt_hll_registers() -> str:
    """Deterministic HyperLogLog register twin (ops/sketches.py
    hll_registers over per-language distinct tokens): bucket = first 2 md5
    hex chars (kept as a string key, the sampling-ops hex precedent); rho
    from the leading-'0' hex run of the next 12 chars plus the 4-case
    digit-class map — identical integers in both engines."""
    return _materialize(
        """
WITH tk AS (
    SELECT lang, md5(lower(u.t)) AS h
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
parts AS (
    SELECT lang, substring(h, 1, 2) AS bucket, substring(h, 3, 12) AS s
    FROM tk
),
z AS (
    SELECT lang, bucket,
           length(regexp_extract(s, '^0*')) AS lz,
           substring(s, length(regexp_extract(s, '^0*')) + 1, 1) AS d
    FROM parts
)
SELECT lang, bucket,
       CAST(max(CASE WHEN lz = 12 THEN 49
                     ELSE lz * 4
                          + CASE WHEN d = '1' THEN 3
                                 WHEN d IN ('2', '3') THEN 2
                                 WHEN d IN ('4', '5', '6', '7') THEN 1
                                 ELSE 0 END
                          + 1 END) AS BIGINT) AS r_max
FROM z
GROUP BY lang, bucket
""",
        "tk",
    )


def txt_tfidf(k: int = 5) -> str:
    """TF-IDF top-k twin (ops/textstats.py tfidf_topk): integer tf/df,
    ranking by round(tf * ln(n_docs/df) * 1e9) as BIGINT with term ASC
    tie-break — the IVF-PQ 9dp determinism precedent."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id, lower(u.t) AS term
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tk GROUP BY doc_id, term
),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dft.df,
           CAST(round(tf.tf * ln((SELECT CAST(count(*) AS DOUBLE) FROM documents)
                                 / dft.df) * 1e9) AS BIGINT) AS score_i9
    FROM tf JOIN dft USING (term)
),
ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score_i9 DESC, term ASC) AS BIGINT) AS rank
    FROM scored
)
SELECT doc_id, term, tf, df, score_i9, rank FROM ranked WHERE rank <= {k}
""",
        "tf",
    )


def txt_cms_counters() -> str:
    """Count-Min counter-table twin (ops/sketches.py cms_counters over
    corpus tokens): row i's counter index is the first 3 hex chars of
    md5(i || ':' || token) — integer renders and md5 agree across
    engines."""
    return _materialize(
        """
WITH tk AS (
    SELECT lower(u.t) AS tok
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
cells AS (
    SELECT CAST(r.i AS BIGINT) AS row_idx,
           substring(md5(CAST(r.i AS VARCHAR) || ':' || tok), 1, 3) AS bucket
    FROM tk, UNNEST([0, 1, 2, 3]) AS r(i)
)
SELECT row_idx, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM cells
GROUP BY row_idx, bucket
""",
        "tk",
    )


def txt_bloom_vocab() -> str:
    """Bloom vocabulary-screen twin (ops/sketches.py bloom_bits +
    bloom_maybe_contains over the md5-half corpus split): row i's bit
    position for a token is the first 4 hex chars of md5(i || ':' || tok);
    a probe is maybe-seen iff all 4 rows hit — false positives are a
    deterministic function of md5 and reproduce identically here."""
    return _materialize(
        """
WITH tk AS (
    SELECT doc_id, lower(u.t) AS tok
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
seen AS (
    SELECT DISTINCT tok FROM tk
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
),
inc AS (
    SELECT DISTINCT tok FROM tk
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= '8'
),
bits AS (
    SELECT DISTINCT CAST(r.i AS BIGINT) AS row_idx,
           substring(md5(CAST(r.i AS VARCHAR) || ':' || tok), 1, 4) AS pos
    FROM seen, UNNEST([0, 1, 2, 3]) AS r(i)
),
cells AS (
    SELECT tok, CAST(r.i AS BIGINT) AS row_idx,
           substring(md5(CAST(r.i AS VARCHAR) || ':' || tok), 1, 4) AS pos
    FROM inc, UNNEST([0, 1, 2, 3]) AS r(i)
),
maybe AS (
    SELECT tok FROM cells JOIN bits USING (row_idx, pos)
    GROUP BY tok HAVING count(*) = 4
)
SELECT m.tok,
       CAST(CASE WHEN s.tok IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_true_seen
FROM maybe m LEFT JOIN seen s ON m.tok = s.tok
""",
        "tk",
        "seen",
    )


def er_entity_linking(model: str = "a100", max_lev: int = 2) -> str:
    """Entity-linking twin (pipeline/er.py link_entities_to_kb): canonical
    nodes -> best KB term; two channels (full surface, head token), each
    via 2-char-prefix + length-band blocking and a levenshtein <= max_lev
    verify; argmin replayed as a row_number over (chan, lev, kb_term) —
    total because KB terms are globally distinct."""
    sig = FIXTURES / f"entity_signatures_{model}.parquet"
    norm = (
        "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    return (
        _kg_prefix(model)
        + f"""
, occ AS (
    SELECT {norm.format(c='surface')} AS norm_surface,
           pred_group AS etype, surface
    FROM typed WHERE pred_group <> 'OTHER'
),
nodes AS (
    SELECT md5(norm_surface || '|' || etype) AS node_id,
           norm_surface, etype,
           count(*) AS n_mentions
    FROM occ WHERE length(norm_surface) > 0
    GROUP BY norm_surface, etype
),
keys AS (
    SELECT node_id, norm_surface, etype, n_mentions,
           norm_surface AS qkey, 0 AS chan FROM nodes
    UNION ALL
    SELECT node_id, norm_surface, etype, n_mentions,
           string_split(norm_surface, ' ')[-1] AS qkey, 1 AS chan FROM nodes
),
kb0 AS (
    SELECT {norm.format(c='term')} AS kb_norm,
           term AS kb_term, labels[1] AS kb_label
    FROM read_parquet('{sig}')
),
kbn AS (
    SELECT kb_norm, kb_term, kb_label FROM (
        SELECT *, row_number() OVER (PARTITION BY kb_norm
                                     ORDER BY kb_term, kb_label) AS rn
        FROM kb0 WHERE length(kb_norm) > 0
    ) WHERE rn = 1
),
cand AS (
    SELECT n.node_id, n.norm_surface, n.etype, n.n_mentions, n.chan,
           k.kb_term, k.kb_label,
           levenshtein(n.qkey, k.kb_norm) AS lev
    FROM keys n JOIN kbn k
      ON substr(n.qkey, 1, 2) = substr(k.kb_norm, 1, 2)
     AND abs(length(n.qkey) - length(k.kb_norm)) <= {max_lev}
    WHERE levenshtein(n.qkey, k.kb_norm) <= {max_lev}
)
SELECT node_id, norm_surface, etype,
       CAST(n_mentions AS BIGINT) AS n_mentions,
       CAST(chan AS BIGINT) AS chan,
       kb_term, kb_label, CAST(lev AS BIGINT) AS lev
FROM (SELECT *, row_number() OVER (PARTITION BY node_id
                                   ORDER BY chan, lev, kb_term, kb_label) AS rn
      FROM cand)
WHERE rn = 1
"""
    )


def kg_triples_temporal(model: str = "a100") -> str:
    """Temporal fact-table twin (pipeline/triples.py triples_temporal over
    the deterministic url-derived warc_ts the query wrapper attaches):
    two-level aggregate — per (triple, url) first, so the one remaining
    DISTINCT (obs day) runs over already-deduped pages."""
    ts = (
        "1704067200 + (CAST(url AS BIGINT) % 97) * 86400"
        " + (CAST(url AS BIGINT) % 24) * 3600"
    )
    return f"""
WITH trip AS ({kg_triples(model)})
, per_page AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type, url,
           count(*) AS n_obs,
           min({ts}) AS min_ts, max({ts}) AS max_ts
    FROM trip GROUP BY ALL
)
SELECT subj, subj_type, pred_norm, obj, obj_type,
       CAST(sum(n_obs) AS BIGINT) AS n_obs,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(min(min_ts) AS BIGINT) AS first_seen,
       CAST(max(max_ts) AS BIGINT) AS last_seen,
       CAST(count(DISTINCT min_ts // 86400) AS BIGINT) AS n_days
FROM per_page GROUP BY subj, subj_type, pred_norm, obj, obj_type
"""


def ann_srp_lsh(
    n_queries: int = 5, k: int = 5, nbits: int = 8, dim: int = 64
) -> str:
    """SRP-LSH twin (ops/simsearch.py srp_lsh_topk): the +-1 hyperplanes
    are inlined from the SAME srp_signs() the engine uses (EN_STOPWORDS
    sharing precedent); bucket bit = round(dot, 9) >= 0, packed little-
    endian; Hamming-radius-1 multiprobe; exact rounded-cosine verify +
    per-query top-k."""
    from unsupervised_ner_spark.ops.simsearch import srp_signs

    signs = srp_signs(nbits, dim)
    bit_terms = " + ".join(
        "CASE WHEN round(list_dot_product(v, ["
        + ", ".join(str(s) for s in signs[b])
        + f"]), 9) >= 0 THEN {1 << b} ELSE 0 END"
        for b in range(nbits)
    )
    flips = ", ".join(f"xor(bucket, {1 << b})" for b in range(nbits))
    return _materialize(
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
srph AS (
    SELECT vec_id, v, CAST({bit_terms} AS BIGINT) AS bucket FROM e
),
q AS (
    SELECT query_id, qv, unnest(probes) AS bucket FROM (
        SELECT vec_id AS query_id, v AS qv,
               [bucket, {flips}] AS probes
        FROM srph WHERE vec_id < {n_queries})
),
cand AS (
    SELECT h.vec_id, q.query_id,
           round(list_dot_product(h.v, q.qv) /
                 (sqrt(list_dot_product(h.v, h.v)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 9) AS cos
    FROM srph h JOIN q USING (bucket) WHERE h.vec_id <> q.query_id
),
r AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id ASC) AS rank
    FROM cand
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
FROM r WHERE rank <= {k}
"""
        , "srph")


def txt_pack_sequences(seq_len: int = 512) -> str:
    """Sequence-packing twin (ops/packing.py pack_sequences): the engine's
    two-level distributed prefix sum collapses to ONE flat global cumsum
    here because the order key (md5(doc_id), doc_id) already sorts
    identically to (bucket, md5, doc_id) — the bucket IS the md5 prefix.
    Affordable at oracle scale; the engine never runs a global window."""
    return f"""
WITH tk AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tok,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
ne AS (SELECT * FROM tk WHERE n_tok > 0),
c AS (
    SELECT doc_id, n_tok,
           CAST(sum(n_tok) OVER (ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tok AS BIGINT) AS tok_offset
    FROM ne
)
SELECT doc_id, n_tok, tok_offset,
       CAST(tok_offset // {seq_len} AS BIGINT) AS pack_first,
       CAST((tok_offset + n_tok - 1) // {seq_len} AS BIGINT) AS pack_last,
       CAST((tok_offset + n_tok - 1) // {seq_len}
            - tok_offset // {seq_len} + 1 AS BIGINT) AS n_packs
FROM c
"""


def txt_mix_plan(budget: int = 1_000_000) -> str:
    """Token-budget mix-planner twin (ops/sampling.py mix_token_plan):
    per-source isqrt(n_tokens) weights, integer allocation and
    milli-epoch repeat factor — exact BIGINT arithmetic via _isqrt_sql."""
    return f"""
WITH per AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
    FROM documents GROUP BY source
),
nz AS (
    SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS est
    FROM per WHERE n_tokens > 0
),
wgt AS (
    SELECT source, n_docs, n_tokens,
           CAST({_isqrt_sql('n_tokens', 'est')} AS BIGINT) AS w_isqrt
    FROM nz
),
tot AS (SELECT CAST(sum(w_isqrt) AS BIGINT) AS w_total FROM wgt)
SELECT source, n_docs, n_tokens, w_isqrt,
       CAST(({budget} * w_isqrt) // w_total AS BIGINT) AS planned_tokens,
       CAST(((({budget} * w_isqrt) // w_total) * 1000) // n_tokens AS BIGINT) AS epochs_milli
FROM wgt, tot
"""


def dedup_incremental(
    split_buckets: int = 2048,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> str:
    """Incremental-ingest dedup twin (ops/dedup.py incremental_dedup over
    the md5-bucket corpus/batch split the gated query synthesizes): the
    LSH band chain over ALL documents with an in_corpus flag; cross pairs
    (batch x corpus) give dup_of_corpus/corpus_rep, batch-internal pairs
    with a smaller doc_id give dup_in_batch/batch_rep; admit = neither.
    The bucket cap counts index+batch bands together — same rule and same
    count(*) source as the engine."""
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    band_rows = []
    for b in range(num_hashes // band_size):
        cols = " || '|' || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    cap_cte, cap_bound = _lsh_bucket_cap(max_bucket)
    cap_cte = f"{cap_cte}," if cap_cte else ""
    return _materialize(
        f"""
WITH {_SHINGLES_CTE.strip()},
{cap_cte}
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
flg AS (
    SELECT doc_id,
           substring(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '{split_buckets:03x}' AS in_corpus
    FROM documents
),
fb AS (SELECT b.doc_id, b.band_id, b.band_hash, f.in_corpus
       FROM bands b JOIN flg f USING (doc_id)),
sizes_ok AS (
    SELECT band_id, band_hash FROM fb
    GROUP BY band_id, band_hash HAVING count(*) <= {cap_bound}
),
ok AS (SELECT fb.* FROM fb JOIN sizes_ok USING (band_id, band_hash)),
xc AS (
    SELECT n.doc_id, min(c.doc_id) AS corpus_rep
    FROM ok n JOIN ok c
      ON n.band_id = c.band_id AND n.band_hash = c.band_hash
    WHERE NOT n.in_corpus AND c.in_corpus
    GROUP BY n.doc_id
),
itn AS (
    SELECT b.doc_id, min(a.doc_id) AS batch_rep
    FROM ok a JOIN ok b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    WHERE NOT a.in_corpus AND NOT b.in_corpus
    GROUP BY b.doc_id
)
SELECT d.doc_id,
       xc.corpus_rep IS NOT NULL AS dup_of_corpus,
       xc.corpus_rep,
       itn.batch_rep IS NOT NULL AS dup_in_batch,
       itn.batch_rep,
       (xc.corpus_rep IS NULL AND itn.batch_rep IS NULL) AS admit
FROM flg d
LEFT JOIN xc ON d.doc_id = xc.doc_id
LEFT JOIN itn ON d.doc_id = itn.doc_id
WHERE NOT d.in_corpus
""",
        "fb",
        "ok",
    )


def txt_chunks(chunk_len: int = 64, stride: int = 48) -> str:
    """Overlapping token-window chunking twin (ops/packing.py
    chunk_tokens): per non-empty doc, windows of chunk_len tokens every
    stride tokens, final window clipped; chunk text re-joined from the
    1-based DuckDB list slice."""
    return f"""
WITH tk AS (
    SELECT doc_id, {_TOKS} AS t, CAST(len({_TOKS}) AS BIGINT) AS n
    FROM documents
),
ne AS (
    SELECT *,
           CASE WHEN n <= {chunk_len} THEN 0
                ELSE (n - {chunk_len} + {stride} - 1) // {stride} END AS k_last
    FROM tk WHERE n > 0
),
ch AS (
    SELECT doc_id, t, n, CAST(g.i AS BIGINT) AS chunk_idx
    FROM ne, UNNEST(generate_series(0, k_last)) AS g(i)
)
SELECT doc_id, chunk_idx,
       CAST(chunk_idx * {stride} AS BIGINT) AS start_tok,
       CAST(least({chunk_len}, n - chunk_idx * {stride}) AS BIGINT) AS n_tok_chunk,
       array_to_string(t[chunk_idx * {stride} + 1 :
                         chunk_idx * {stride} + least({chunk_len}, n - chunk_idx * {stride})],
                       ' ') AS chunk_text
FROM ch
"""


def txt_pack_manifest(seq_len: int = 512) -> str:
    """Writer-side packing-manifest twin (ops/packing.py pack_manifest
    over pack_sequences): the flat-cumsum offsets exploded over each
    doc's pack span with the intersection arithmetic inline."""
    return f"""
WITH tk AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tok,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
ne AS (SELECT * FROM tk WHERE n_tok > 0),
c AS (
    SELECT doc_id, n_tok,
           CAST(sum(n_tok) OVER (ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tok AS BIGINT) AS tok_offset
    FROM ne
),
sp AS (
    SELECT doc_id, n_tok, tok_offset, CAST(g.p AS BIGINT) AS pack_id
    FROM c, UNNEST(generate_series(tok_offset // {seq_len},
                                   (tok_offset + n_tok - 1) // {seq_len})) AS g(p)
)
SELECT pack_id, doc_id,
       CAST(greatest(tok_offset, pack_id * {seq_len}) - pack_id * {seq_len} AS BIGINT) AS pos_in_pack,
       CAST(greatest(tok_offset, pack_id * {seq_len}) - tok_offset AS BIGINT) AS start_tok,
       CAST(least(tok_offset + n_tok, (pack_id + 1) * {seq_len})
            - greatest(tok_offset, pack_id * {seq_len}) AS BIGINT) AS n_tok_in_pack
FROM sp
"""


def txt_bigram_novelty(rare_max: int = 1) -> str:
    """Rare-bigram novelty twin (ops/textstats.py bigram_novelty): per
    doc the bigram-instance count and how many instances belong to pairs
    with corpus count <= rare_max."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'),
                       x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
    FROM tk, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
pairs AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CASE WHEN p.n_pair <= {rare_max} THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_bigrams
FROM bg b JOIN pairs p USING (w1, w2)
GROUP BY b.doc_id
""",
        "bg",
    )


def kg_entity_cards(model: str = "a100") -> str:
    """Entity-card twin (pipeline/er.py entity_cards): the shared ER chain
    to ``merged``, occurrences re-derived from ``typed`` with the same
    normalization, then per-entity stats + the (count desc, surface asc)
    top alias."""
    return (
        _er_chain(model)
        + """
, occx AS (
    SELECT m.component AS entity_id, o.etype, o.surface, o.url
    FROM (
        SELECT trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                                   '\\s+', ' ', 'g')) AS norm_surface,
               pred_group AS etype, surface, url
        FROM typed WHERE pred_group <> 'OTHER'
    ) o
    JOIN merged m ON m.norm_surface = o.norm_surface AND m.etype = o.etype
    WHERE length(o.norm_surface) > 0
),
stats AS (
    SELECT entity_id, etype,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(count(DISTINCT url) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT surface) AS BIGINT) AS n_aliases
    FROM occx GROUP BY entity_id, etype
),
al AS (
    SELECT entity_id, surface,
           row_number() OVER (PARTITION BY entity_id
                              ORDER BY n_m DESC, surface ASC) AS rnk
    FROM (SELECT entity_id, surface, count(*) AS n_m
          FROM occx GROUP BY entity_id, surface) z
)
SELECT s.entity_id, s.etype, a.surface AS top_alias,
       s.n_aliases, s.n_mentions, s.n_docs
FROM stats s JOIN al a ON s.entity_id = a.entity_id AND a.rnk = 1
"""
    )


def dedup_snapshot_diff(
    old_buckets: int = 3072, new_from_buckets: int = 1024, mut_mod: int = 17
) -> str:
    """Snapshot-diff twin (ops/dedup.py snapshot_diff over the synthetic
    two-snapshot split the gated query builds): old = md5 buckets
    [0, old_buckets), new = [new_from_buckets, 4096) with every
    doc_id % mut_mod == 0 carrying a deterministic ' rev2' content edit;
    full outer join on doc_id, status from fingerprint comparison."""
    fp = (
        "md5(array_to_string(list_transform(list_filter("
        "regexp_split_to_array(text, '\\s+'), x -> x <> ''), t -> lower(t)), ' '))"
    )
    return f"""
WITH b AS (
    SELECT *, substring(md5(CAST(doc_id AS VARCHAR)), 1, 3) AS bk FROM documents
),
oldfp AS (
    SELECT doc_id, {fp} AS fp_old FROM b WHERE bk < '{old_buckets:03x}'
),
newd AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mut_mod} = 0 THEN text || ' rev2' ELSE text END AS text
    FROM b WHERE bk >= '{new_from_buckets:03x}'
),
newfp AS (SELECT doc_id, {fp} AS fp_new FROM newd)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.fp_old <> n.fp_new THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.fp_old, n.fp_new
FROM oldfp o FULL OUTER JOIN newfp n ON o.doc_id = n.doc_id
"""


def txt_pack_stats(seq_len: int = 512) -> str:
    """Packing-efficiency twin (ops/packing.py pack_stats over
    pack_sequences): corpus totals + straddler count from the flat
    cumsum."""
    return f"""
WITH tk AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tok,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
ne AS (SELECT * FROM tk WHERE n_tok > 0),
c AS (
    SELECT n_tok,
           CAST(sum(n_tok) OVER (ORDER BY h, doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tok AS BIGINT) AS tok_offset
    FROM ne
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST((sum(n_tok) + {seq_len} - 1) // {seq_len} AS BIGINT) AS n_seqs,
       CAST(sum(CASE WHEN (tok_offset + n_tok - 1) // {seq_len}
                          <> tok_offset // {seq_len} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_straddlers
FROM c
"""


def txt_lang_mix(mix_mod: int = 13) -> str:
    """Mixed-language twin (ops/textstats.py lang_mix): per-language
    stopword hits from the SHARED LANG_STOPWORDS lists, rank by
    (hits desc, lang asc), integer mixed rule. The gated query splices a
    deterministic German phrase into every doc_id % mix_mod == 0 doc
    (the txt_redact precedent: the corpus is monolingual, so the splice
    makes the mixed path actually fire under the hash gate) — replayed
    identically here."""
    from unsupervised_ner_spark.ops.textstats import LANG_STOPWORDS

    rows = ", ".join(
        "('{}', [{}])".format(l, ", ".join(f"'{w}'" for w in sw))
        for l, sw in sorted(LANG_STOPWORDS.items())
    )
    toks_mixed = _LOWTOKS.replace(
        "regexp_split_to_array(text,",
        "regexp_split_to_array(CASE WHEN doc_id % {m} = 0 "
        "THEN text || ' der die das und ist von' ELSE text END,".format(m=mix_mod),
    )
    return f"""
WITH tk AS (SELECT doc_id, {toks_mixed} AS t FROM documents),
h AS (
    SELECT tk.doc_id, l.lang,
           CAST(len(list_filter(tk.t, x -> list_contains(l.sw, x))) AS BIGINT) AS hits
    FROM tk, (VALUES {rows}) l(lang, sw)
),
r AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY hits DESC, lang ASC) AS rnk
    FROM h
)
SELECT doc_id,
       CASE WHEN max(CASE WHEN rnk = 1 THEN hits END) > 0
            THEN max(CASE WHEN rnk = 1 THEN lang END) ELSE 'und' END AS best_lang,
       max(CASE WHEN rnk = 1 THEN hits END) AS best_hits,
       CASE WHEN max(CASE WHEN rnk = 2 THEN hits END) > 0
            THEN max(CASE WHEN rnk = 2 THEN lang END) ELSE 'und' END AS second_lang,
       max(CASE WHEN rnk = 2 THEN hits END) AS second_hits,
       (max(CASE WHEN rnk = 2 THEN hits END) > 0
        AND max(CASE WHEN rnk = 2 THEN hits END) * 2
            >= max(CASE WHEN rnk = 1 THEN hits END)) AS mixed
FROM r WHERE rnk <= 2 GROUP BY doc_id
"""


def kg_predicate_pairs(model: str = "a100") -> str:
    """Predicate-pair twin (pipeline/er.py predicate_pairs over the
    production triples): distinct (subj, subj_type, pred_norm) from the
    kg_triples chain, self-joined on the subject with pred_a < pred_b."""
    return _materialize(
        f"""
WITH t AS ({kg_triples(model)}),
d AS (SELECT DISTINCT subj, subj_type, pred_norm FROM t)
SELECT a.pred_norm AS pred_a, b.pred_norm AS pred_b,
       CAST(count(*) AS BIGINT) AS n_subjects
FROM d a JOIN d b
  ON a.subj = b.subj AND a.subj_type = b.subj_type
 AND a.pred_norm < b.pred_norm
GROUP BY a.pred_norm, b.pred_norm
""",
        "d",
    )


def _hex8_int_sql(md5_expr: str) -> str:
    """First 8 hex chars of an md5 VARCHAR expression as BIGINT — the
    DuckDB twin of ops/kgtrain.md5_int32 (Spark's conv(substr(h,1,8),16,10)).
    Nibble-exact integer arithmetic: no float, no platform dependence."""
    terms = " + ".join(
        f"CAST(strpos('0123456789abcdef', substr({md5_expr}, {i + 1}, 1)) - 1 "
        f"AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"



def _hearst_docs2(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
) -> str:
    """The Hearst-gate splice as a shared "picked, docs2" CTE fragment —
    one definition so every oracle built over the spliced corpus
    (kg_hearst_hypernyms / kg_taxonomy_2hop / txt_sent_dedup) replays the
    byte-identical documents the engine sees."""
    hypo_arr = "[" + ", ".join(f"'{t}'" for t in hypo_terms) + "]"
    hyper_arr = "[" + ", ".join(f"'{t}'" for t in hyper_terms) + "]"
    hyper2_arr = "[" + ", ".join(f"'{t}'" for t in hyper2_terms) + "]"
    art = (
        "(CASE WHEN substr({n}, 1, 1) IN ('a','e','i','o','u') "
        "THEN 'an' ELSE 'a' END)"
    )
    return f"""picked AS (
    SELECT doc_id, text,
           ({hypo_arr})[CAST(doc_id % {len(hypo_terms)} AS INT) + 1] AS hypo,
           ({hyper_arr})[CAST(doc_id % {len(hyper_terms)} AS INT) + 1] AS hyper,
           ({hyper2_arr})[CAST(doc_id % {len(hyper2_terms)} AS INT) + 1] AS hyper2
    FROM documents
),
docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = 0
                THEN text || chr(10) || hypo || ' is '
                     || {art.format(n="hyper")}
                     || ' ' || hyper
                     || chr(10) || hyper || 's such as ' || hypo || ' are common'
                     || chr(10) || upper(substr(hyper, 1, 1)) || substr(hyper, 2)
                     || ' is ' || {art.format(n="hyper2")} || ' ' || hyper2
                ELSE text END AS text
    FROM picked
)"""


def kg_hearst_hypernyms(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
) -> str:
    """Hearst-pattern taxonomy twin (pipeline/taxonomy.hearst_hypernyms):
    first is-a / such-as match per sentence, normalized hyponym, one
    aggregate. The regex strings are IMPORTED from the engine module so
    the twins cannot drift; the deterministic doc_id-derived splice (the
    txt_lang_mix precedent — the word-salad corpus contains no natural
    " is a " text) is replayed byte-identically here, including the
    chained third sentence that creates real 2-hop closure paths."""
    from unsupervised_ner_spark.pipeline.taxonomy import ISA_PAT, SUCHAS_PAT

    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH {_hearst_docs2(mod, hypo_terms, hyper_terms, hyper2_terms)},
{sents.strip()},
cand AS (
    SELECT url, lower(regexp_extract(sent, '{ISA_PAT}', 1)) AS hypo,
           regexp_extract(sent, '{ISA_PAT}', 2) AS hyper,
           'isa' AS pattern
    FROM sents
    UNION ALL
    SELECT url, lower(regexp_extract(sent, '{SUCHAS_PAT}', 2)),
           regexp_extract(sent, '{SUCHAS_PAT}', 1),
           'such_as'
    FROM sents
)
SELECT hypo, hyper, pattern,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM cand WHERE length(hypo) > 0 AND length(hyper) > 0
GROUP BY hypo, hyper, pattern
"""


def kg_negative_samples(model: str = "a100", k: int = 2) -> str:
    """Negative-sampling twin (ops/kgtrain.negative_samples): the flat
    global row_number over (md5(ent), ent) IS the engine's two-level
    (bucket, md5, ent) rank because the bucket is an md5 prefix; the
    corruption draw is the shared hex8 integer hash mod |vocab|."""
    pick = _hex8_int_sql(
        "md5(subj || '|' || pred_norm || '|' || obj || '|' || CAST(neg_k AS VARCHAR))"
    )
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
dtrip AS (SELECT DISTINCT subj, subj_type, pred_norm, obj, obj_type FROM trip),
ents AS (SELECT subj AS ent FROM trip UNION SELECT obj FROM trip),
idx AS (
    SELECT ent,
           CAST(row_number() OVER (ORDER BY md5(ent), ent) - 1 AS BIGINT) AS ent_idx
    FROM ents
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_ents FROM idx),
expanded AS (
    SELECT d.*, CAST(g.neg_k AS BIGINT) AS neg_k
    FROM dtrip d CROSS JOIN (SELECT unnest(generate_series(1, {k})) AS neg_k) g
),
sel AS (SELECT e.*, ({pick}) % n.n_ents AS pick FROM expanded e CROSS JOIN n)
SELECT s.subj, s.subj_type, s.pred_norm, s.obj, s.obj_type, s.neg_k,
       i.ent AS neg_obj,
       CAST(CASE WHEN i.ent = s.obj THEN 1 ELSE 0 END AS BIGINT) AS hits_true
FROM sel s JOIN idx i ON i.ent_idx = s.pick
""",
        "trip",
        "idx",
    )


def kg_entity_contexts(model: str = "a100", window: int = 3) -> str:
    """Masked entity-context twin (ops/kgtrain.entity_contexts): typed
    mentions joined back onto their sentence's word array (whitespace
    split, empties dropped, :__entity__ markers stripped — the tokens_cte
    tokenization), +-window token slices around the 0-based inclusive
    span, the span replaced by [MASK]."""
    w = window
    # coalesce: an empty DuckDB list slice (a[1:0]) is NULL, Spark's is []
    left = f"coalesce(words[greatest(begin_tok + 1 - {w}, 1) : begin_tok], [])"
    right = f"coalesce(words[end_tok + 2 : least(end_tok + 1 + {w}, len(words))], [])"
    return _materialize(
        _kg_prefix(model)
        + f"""
, warr AS (
    SELECT url, sent_idx,
           list_transform(
               list_filter(regexp_split_to_array(sent, '\\s+'), t -> t <> ''),
               t -> replace(t, ':__entity__', '')) AS words
    FROM sents
)
SELECT t.url, t.sent_idx, t.mention_idx, t.surface,
       t.pred_group AS etype, t.begin_tok, t.end_tok,
       coalesce(array_to_string({left}, ' '), '') AS left_ctx,
       coalesce(array_to_string({right}, ' '), '') AS right_ctx,
       array_to_string(
           list_concat(list_concat({left}, ['[MASK]']), {right}), ' ') AS masked
FROM typed t JOIN warr USING (url, sent_idx)
""",
        "sents",
    )


def kg_entity_trends(
    model: str = "a100", burst_num: int = 3, burst_den: int = 2
) -> str:
    """Entity daily-trend twin (pipeline/er.py entity_trends): normalized
    typed mentions bucketed to the deterministic url-derived obs day
    (the gate folds the crawl to a 7-day week, doc % 7, so repeated
    surfaces actually collide on days and the burst branch fires — 2
    bursts at sf0.001 AND sf0.01 under the 1.5x rule), one daily
    aggregate, per-entity window totals, cross-multiplied integer burst
    rule."""
    return _materialize(
        _kg_prefix(model)
        + f"""
, ent AS (
    SELECT trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS ent,
           pred_group AS etype,
           CAST(CAST(url AS BIGINT) % 7 AS BIGINT) AS obs_day
    FROM typed WHERE pred_group <> 'OTHER'
),
daily AS (
    SELECT ent, etype, obs_day, CAST(count(*) AS BIGINT) AS n_mentions
    FROM ent WHERE length(ent) > 0
    GROUP BY ent, etype, obs_day
)
SELECT ent, etype, obs_day, n_mentions,
       CAST(sum(n_mentions) OVER w AS BIGINT) AS n_total,
       CAST(count(*) OVER w AS BIGINT) AS n_days,
       CAST(CASE WHEN n_mentions * (count(*) OVER w) * {burst_den}
                      > {burst_num} * (sum(n_mentions) OVER w)
                 THEN 1 ELSE 0 END AS BIGINT) AS is_burst
FROM daily
WINDOW w AS (PARTITION BY ent, etype)
""",
        "daily",
    )


def er_cluster_stats(model: str = "a100") -> str:
    """ER cluster-size histogram twin (pipeline/er.py cluster_stats) over
    the shared RECURSIVE-CTE component chain."""
    return (
        _er_chain(model)
        + """
, memb AS (SELECT norm_surface, etype, component AS entity_id FROM merged),
sizes AS (
    SELECT entity_id, etype, CAST(count(*) AS BIGINT) AS cluster_size
    FROM memb GROUP BY entity_id, etype
)
SELECT etype, cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(count(*) * cluster_size AS BIGINT) AS n_surfaces
FROM sizes GROUP BY etype, cluster_size
"""
    )


def kg_taxonomy_2hop(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
) -> str:
    """2-hop taxonomy closure twin (pipeline/taxonomy.taxonomy_closure_2hop):
    Hearst edges collapsed across patterns, mid-keyed self-join, least
    support, trivial loops filtered."""
    return _materialize(
        f"""
WITH hh AS ({kg_hearst_hypernyms(mod, hypo_terms, hyper_terms, hyper2_terms)}),
e AS (
    SELECT hypo, hyper, CAST(sum(n_sents) AS BIGINT) AS n
    FROM hh GROUP BY hypo, hyper
)
SELECT a.hypo, a.hyper AS mid, b.hyper, least(a.n, b.n) AS support
FROM e a JOIN e b ON a.hyper = b.hypo
WHERE a.hypo <> b.hyper
""",
        "e",
    )


def dedup_lsh_stats(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int = 2
) -> str:
    """LSH bucket-size histogram twin (ops/dedup.lsh_bucket_stats): the
    same shingle -> minhash -> band chain as dedup_minhash_lsh, two
    aggregates, over-cap flag against the explicit gate cap."""
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    band_rows = []
    for b in range(num_hashes // band_size):
        cols = " || '|' || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
WITH {_SHINGLES_CTE.strip()},
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
sizes AS (
    SELECT band_id, band_hash, CAST(count(*) AS BIGINT) AS bucket_size
    FROM bands GROUP BY band_id, band_hash
)
SELECT CAST(band_id AS BIGINT) AS band_id, bucket_size,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(CASE WHEN bucket_size > {max_bucket} THEN 1 ELSE 0 END AS BIGINT)
           AS over_cap
FROM sizes GROUP BY band_id, bucket_size
"""


def kg_appositive_types(mod: int, inst_terms: list[str], cls_terms: list[str]) -> str:
    """Appositive instance-typing twin (pipeline/taxonomy.appositive_types):
    first "<Entity>, a <noun>," match per sentence, instance lowercased,
    one aggregate. The regex string is IMPORTED from the engine module;
    the deterministic doc_id-derived splice (the Hearst-gate precedent —
    the word-salad corpus contains no natural appositive text) is
    replayed byte-identically."""
    from unsupervised_ner_spark.pipeline.taxonomy import APPOS_PAT

    inst_arr = "[" + ", ".join(f"'{t}'" for t in inst_terms) + "]"
    cls_arr = "[" + ", ".join(f"'{t}'" for t in cls_terms) + "]"
    art = (
        "(CASE WHEN substr(cls, 1, 1) IN ('a','e','i','o','u') "
        "THEN 'an' ELSE 'a' END)"
    )
    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH picked AS (
    SELECT doc_id, text,
           ({inst_arr})[CAST(doc_id % {len(inst_terms)} AS INT) + 1] AS inst,
           ({cls_arr})[CAST(doc_id % {len(cls_terms)} AS INT) + 1] AS cls
    FROM documents
),
docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = 0
                THEN text || chr(10) || inst || ', ' || {art} || ' ' || cls
                     || ', was mentioned'
                ELSE text END AS text
    FROM picked
),
{sents.strip()},
cand AS (
    SELECT url, lower(regexp_extract(sent, '{APPOS_PAT}', 1)) AS inst,
           regexp_extract(sent, '{APPOS_PAT}', 2) AS cls
    FROM sents
)
SELECT inst, cls,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM cand WHERE length(inst) > 0 AND length(cls) > 0
GROUP BY inst, cls
"""


def kg_pred_functionality(model: str = "a100", num: int = 4, den: int = 5) -> str:
    """Predicate-functionality twin (pipeline/triples.predicate_functionality):
    two cascaded aggregates over the kg_triples chain, integer
    cross-multiplied num/den functionality flag."""
    return f"""
WITH trip AS ({kg_triples(model)}),
per_subj AS (
    SELECT pred_norm, subj, CAST(count(DISTINCT obj) AS BIGINT) AS n_objs
    FROM trip GROUP BY pred_norm, subj
)
SELECT pred_norm,
       CAST(count(*) AS BIGINT) AS n_subjects,
       CAST(sum(CASE WHEN n_objs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
       CAST(max(n_objs) AS BIGINT) AS max_objs,
       CAST(CASE WHEN sum(CASE WHEN n_objs = 1 THEN 1 ELSE 0 END) * {den}
                      >= count(*) * {num}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_functional
FROM per_subj GROUP BY pred_norm
"""


def kg_conflicts(model: str = "a100", num: int = 4, den: int = 5) -> str:
    """Conflicting-fact twin (pipeline/triples.functional_conflicts):
    multi-object subjects under functional predicates, sorted distinct
    object list, over the production triples UNION the deterministic
    conflict splice (__spark_entry__._conflict_splice_triples — the
    word-salad corpus yields zero conflicts at sf0.001/0.01, measured).
    per_subj feeds both sides, so it is MATERIALIZED."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
splice AS (
    SELECT 's' || CAST(doc_id % 24 AS VARCHAR) AS subj,
           CASE WHEN doc_id % 2 = 0 THEN 'capital_of' ELSE 'near' END AS pred_norm,
           CASE WHEN doc_id % 2 = 0
                THEN CASE WHEN doc_id % 24 = 0
                          THEN 'v' || CAST((doc_id // 24) % 5 AS VARCHAR)
                          ELSE 'o' || CAST(doc_id % 24 AS VARCHAR) END
                ELSE 'w' || CAST((doc_id // 24) % 5 AS VARCHAR) END AS obj
    FROM documents
),
unioned AS (
    SELECT subj, pred_norm, obj FROM trip
    UNION ALL SELECT subj, pred_norm, obj FROM splice
),
per_subj AS (
    SELECT pred_norm, subj,
           CAST(count(DISTINCT obj) AS BIGINT) AS n_objs,
           string_agg(DISTINCT obj, '|' ORDER BY obj) AS objs
    FROM unioned GROUP BY pred_norm, subj
),
stats AS (
    SELECT pred_norm,
           CAST(count(*) AS BIGINT) AS n_subjects,
           CAST(CASE WHEN sum(CASE WHEN n_objs = 1 THEN 1 ELSE 0 END) * {den}
                          >= count(*) * {num}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_functional
    FROM per_subj GROUP BY pred_norm
)
SELECT p.pred_norm, p.subj, p.n_objs, p.objs, s.n_subjects
FROM per_subj p JOIN stats s ON p.pred_norm = s.pred_norm
WHERE p.n_objs >= 2 AND s.is_functional = 1
""",
        "per_subj",
    )


def txt_bpe_pairs(max_word_len: int = 30) -> str:
    """First-iteration BPE pair-statistics twin (ops/textstats.
    bpe_pair_stats): corpus -> word-frequency vocabulary -> adjacent
    character pairs weighted by word frequency (within-word multiplicity
    counted), n_words over distinct vocabulary."""
    return f"""
WITH words AS (
    SELECT lower(t) AS word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_TOKS}) AS t FROM documents)
    GROUP BY 1
),
w2 AS (
    SELECT word, freq FROM words
    WHERE length(word) >= 2 AND length(word) <= {max_word_len}
),
pairs AS (
    SELECT word, freq, unnest(range(1, length(word))) AS i FROM w2
)
SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
       substr(word, CAST(i AS INT) + 1, 1) AS right_sym,
       CAST(sum(freq) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM pairs GROUP BY 1, 2
"""


def txt_hashing_tf(dim: int = 1024) -> str:
    """Feature-hashing twin (ops/textstats.hashing_tf): index =
    hex8(md5(token)) mod dim via the shared nibble-exact integer hash,
    value = in-doc occurrence count."""
    idx = _hex8_int_sql("md5(tok)")
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(list_transform({_TOKS}, t -> lower(t))) AS tok
    FROM documents
)
SELECT doc_id, {idx} % {dim} AS feature_idx, CAST(count(*) AS BIGINT) AS n
FROM toks GROUP BY 1, 2
"""


def txt_sent_dedup(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    min_copies: int = 2,
) -> str:
    """Sentence-level exact-dedup twin (ops/dedup.sentence_dedup) over the
    Hearst-spliced sentence table (the splice guarantees real cross-doc
    duplicate sentences exist in the word-salad corpus): one fingerprint
    aggregate, keep-first provenance via the lpad string min."""
    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH {_hearst_docs2(mod, hypo_terms, hyper_terms, hyper2_terms)},
{sents.strip()},
keyed AS (
    SELECT md5(sent) AS sent_fp, url,
           url || '|' || lpad(CAST(sent_idx AS VARCHAR), 12, '0') AS k
    FROM sents
)
SELECT sent_fp,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs,
       string_split(min(k), '|')[1] AS keep_url,
       CAST(string_split(min(k), '|')[2] AS BIGINT) AS keep_sent_idx
FROM keyed GROUP BY sent_fp
HAVING count(*) >= {min_copies}
"""


def kg_reciprocal_pairs(model: str = "a100") -> str:
    """Reciprocated-pair twin (pipeline/er.reciprocal_pairs): triples
    collapse to the distinct directed edge table (MATERIALIZED — feeds
    both self-join sides), reversed-key equi-join, ent_a < ent_b. Over
    the production triples UNION the deterministic reciprocity splice
    (__spark_entry__._recip_splice_triples — the word-salad corpus yields
    zero reciprocal pairs at sf0.001/0.01, measured)."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
splice AS (
    SELECT 'e' || lpad(CAST((doc_id // 3) % 12 AS VARCHAR), 2, '0') AS subj,
           (['knows','likes','near'])[CAST(doc_id % 3 AS INT) + 1] AS pred_norm,
           'e' || lpad(CAST(((doc_id // 3) % 12
                             + ([1,11,4])[CAST(doc_id % 3 AS INT) + 1]) % 12
                       AS VARCHAR), 2, '0') AS obj
    FROM documents
),
unioned AS (
    SELECT subj, pred_norm, obj FROM trip
    UNION ALL SELECT subj, pred_norm, obj FROM splice
),
edges AS (
    SELECT subj, obj, CAST(count(*) AS BIGINT) AS n,
           string_agg(DISTINCT pred_norm, '|' ORDER BY pred_norm) AS preds
    FROM unioned GROUP BY subj, obj
)
SELECT a.subj AS ent_a, a.obj AS ent_b,
       a.n AS n_ab, a.preds AS preds_ab,
       b.n AS n_ba, b.preds AS preds_ba
FROM edges a JOIN edges b ON a.subj = b.obj AND a.obj = b.subj
WHERE a.subj < a.obj
""",
        "edges",
    )


def kg_conll(model: str = "a100") -> str:
    """CoNLL serialization twin (pipeline/tagging.conll_export): the
    kg_bio_tags chain aggregated per sentence with token-ordered
    newline-joined "word tag" lines."""
    return f"""
WITH bio AS ({kg_bio_tags(model)})
SELECT url, sent_idx,
       string_agg(word || ' ' || tag, chr(10) ORDER BY token_idx) AS conll,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM bio GROUP BY url, sent_idx
"""


def txt_word_pmi(window: int = 2, min_pair: int = 2) -> str:
    """Skip-gram PMI sufficient-statistics twin (ops/textstats.
    word_pmi_stats): forward-window pairs via generate_series (the engine
    generates them expression-side; same multiset), unigram marginals and
    corpus total joined on, integers only."""
    offs = ", ".join(str(o) for o in range(1, window + 1))
    return f"""
WITH toks AS (
    SELECT {_LOWTOKS} AS arr FROM documents
),
pos AS (
    SELECT arr, unnest(generate_series(1, len(arr))) AS i FROM toks
),
pairs AS (
    SELECT arr[CAST(i AS INT)] AS w1, arr[CAST(i AS INT) + off.o] AS w2
    FROM pos, (SELECT unnest([{offs}]) AS o) AS off
    WHERE i + off.o <= len(arr)
),
pc AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
    FROM pairs GROUP BY w1, w2
    HAVING count(*) >= {min_pair}
),
ug AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS n_tok
    FROM (SELECT unnest(arr) AS tok FROM toks) GROUP BY tok
),
tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM ug)
SELECT pc.w1, pc.w2, pc.n_pair,
       u1.n_tok AS n_w1, u2.n_tok AS n_w2, tot.n_total
FROM pc JOIN ug u1 ON pc.w1 = u1.tok
        JOIN ug u2 ON pc.w2 = u2.tok, tot
"""


def dedup_shared_ngrams(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    k: int = 4,
    min_docs: int = 2,
) -> str:
    """Duplicate-span index twin (ops/dedup.shared_ngram_spans) over the
    Hearst-spliced documents (the splice guarantees recurring k-token
    spans in the word-salad corpus): rolling k-token window md5s, one
    fingerprint aggregate, lpad string-min keep-first provenance."""
    return f"""
WITH {_hearst_docs2(mod, hypo_terms, hyper_terms, hyper2_terms)},
toks AS (
    SELECT doc_id, {_TOKS} AS arr FROM docs2
),
wins AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(arr, CAST(i AS INT), CAST(i AS INT) + {k} - 1), ' ')) AS win_fp,
           lpad(CAST(doc_id AS VARCHAR), 12, '0') || '|'
               || lpad(CAST(i AS VARCHAR), 12, '0') AS kk
    FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - {k} + 1)) AS i
          FROM toks WHERE len(arr) >= {k})
)
SELECT win_fp,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(string_split(min(kk), '|')[1] AS BIGINT) AS keep_doc_id,
       CAST(string_split(min(kk), '|')[2] AS BIGINT) AS keep_pos
FROM wins GROUP BY win_fp
HAVING count(DISTINCT doc_id) >= {min_docs}
"""


def kg_tag_transitions(model: str = "a100") -> str:
    """Tag-transition twin (pipeline/tagging.tag_transitions): per-sentence
    tag sequences with START/END boundaries, adjacent pairs via
    generate_series, one bounded aggregate."""
    return f"""
WITH bio AS ({kg_bio_tags(model)}),
seqs AS (
    SELECT url, sent_idx,
           list_prepend('START', list_append(list(tag ORDER BY token_idx), 'END')) AS seq
    FROM bio GROUP BY url, sent_idx
),
pairs AS (
    SELECT seq[CAST(i AS INT)] AS prev_tag, seq[CAST(i AS INT) + 1] AS tag
    FROM (SELECT seq, unnest(generate_series(1, len(seq) - 1)) AS i FROM seqs)
)
SELECT prev_tag, tag, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY prev_tag, tag
"""


# ---------------------------------------------------------------------------
# web-ingestion twins (ops/webtext.py) — regex patterns IMPORTED from the
# engine module so the two sides cannot drift
# ---------------------------------------------------------------------------

# deterministic URL synthesizer twin (__spark_entry__._synth_urls)
_SYNTH_URL_SQL = """
CASE WHEN doc_id % 5 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
|| CASE WHEN doc_id % 9 = 0 THEN 'WWW.'
        WHEN doc_id % 3 = 0 THEN 'www.'
        WHEN doc_id % 7 = 0 THEN 'news.'
        ELSE '' END
|| source || '-' || CAST(doc_id % 23 AS VARCHAR) || '.'
|| CASE WHEN doc_id % 4 = 0 THEN 'co.uk'
        WHEN doc_id % 3 = 0 THEN 'com'
        WHEN doc_id % 3 = 1 THEN 'org'
        ELSE 'net' END
|| CASE WHEN doc_id % 11 = 0 THEN ':8443'
        WHEN doc_id % 13 = 0 THEN ':443'
        ELSE '' END
|| CASE WHEN doc_id % 4 = 0 THEN ''
        ELSE '/cat' || CAST(doc_id % 7 AS VARCHAR)
             || '/page-' || CAST(doc_id AS VARCHAR) || '.html' END
|| CASE WHEN doc_id % 2 = 0
        THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
        ELSE '' END
|| CASE WHEN doc_id % 6 = 0 THEN '#sec-2' ELSE '' END
"""


def _url_parse_ctes() -> str:
    """Shared CTE chain: synth url -> parsed fields (webtext.parse_urls
    twin). Ends with CTE ``parsed`` exposing the full parse surface."""
    from unsupervised_ner_spark.ops import webtext as W

    tld2 = "[" + ", ".join(f"'{t}'" for t in W.SECOND_LEVEL_TLDS) + "]"
    return f"""
u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
p1 AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '{W.SCHEME_RE}', 1)) AS scheme,
           lower(regexp_extract(url, '{W.HOSTPORT_RE}', 1)) AS hostport,
           regexp_extract(url, '{W.PATH_RE}', 1) AS path
    FROM u
),
p2 AS (
    SELECT *,
           regexp_replace(hostport, '{W.PORT_RE}', '') AS host,
           CASE WHEN regexp_extract(hostport, '{W.PORT_RE}', 1) <> ''
                THEN CAST(regexp_extract(hostport, '{W.PORT_RE}', 1) AS BIGINT)
           END AS port
    FROM p1
),
p3 AS (SELECT *, string_split(host, '.') AS l FROM p2),
parsed AS (
    SELECT doc_id, url, scheme, host, port, path,
           CASE WHEN len(l) >= 3 AND list_contains({tld2}, l[len(l)-1])
                THEN array_to_string(l[len(l)-2:len(l)], '.')
                WHEN len(l) >= 2
                THEN array_to_string(l[len(l)-1:len(l)], '.')
                ELSE host END AS reg_domain,
           CAST(len(list_filter(string_split(path, '/'), s -> s <> ''))
                AS BIGINT) AS path_depth,
           scheme || '://' || host
           || CASE WHEN port IS NOT NULL
                    AND NOT ((scheme = 'http' AND port = 80)
                             OR (scheme = 'https' AND port = 443))
                   THEN ':' || CAST(port AS VARCHAR) ELSE '' END
           || CASE WHEN path = '' THEN '/' ELSE path END AS url_norm
    FROM p3
)"""


def txt_url_parse() -> str:
    """URL parse/normalize twin (webtext.parse_urls over _synth_urls)."""
    return f"""
WITH {_url_parse_ctes()}
SELECT doc_id, url, scheme, host, port, reg_domain, path, path_depth, url_norm
FROM parsed
"""


def txt_domain_stats(blocklist: tuple[str, ...]) -> str:
    """Per-registered-domain dashboard twin (webtext.domain_stats)."""
    blocked = "(" + ", ".join(f"'{d}'" for d in blocklist) + ")"
    return f"""
WITH {_url_parse_ctes()}
SELECT reg_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(sum(path_depth) AS BIGINT) AS sum_path_depth,
       reg_domain IN {blocked} AS blocked
FROM parsed GROUP BY reg_domain
"""


def txt_line_filter() -> str:
    """C4-style line-filter twin (webtext.filter_lines over the dirty
    multi-line view built by q_txt_line_filter): 10-word body re-wrap
    with '.' on alternating lines, three one-rule-violation header lines,
    'lorem ipsum' footer every 3rd doc."""
    from unsupervised_ner_spark.ops import webtext as W

    words = ", ".join(f"'{w}'" for w in W.LINE_BLOCKWORDS)
    return f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS words,
           (len(string_split(text, ' ')) + 9) // 10 AS nch
    FROM documents
),
dirty AS (
    SELECT doc_id,
           array_to_string(
             list_concat(
               list_concat(
                 ['Please enable JavaScript to view the comments powered here.',
                  '{{ "cookieConsent": true }}',
                  'Home'],
                 list_transform(range(0, nch), i ->
                     array_to_string(words[i*10+1:i*10+10], ' ')
                     || CASE WHEN i % 2 = 0 THEN '.' ELSE '' END)),
               CASE WHEN doc_id % 3 = 0
                    THEN ['lorem ipsum dolor sit amet consectetur.']
                    ELSE [] END),
             chr(10)) AS text
    FROM w
),
lined AS (
    SELECT doc_id, string_split(text, chr(10)) AS lines FROM dirty
),
kept AS (
    SELECT doc_id, lines,
           list_filter(lines, l ->
               len(list_filter(regexp_split_to_array(trim(l), '\\s+'),
                               t -> t <> '')) >= {W.LINE_MIN_WORDS}
               AND regexp_matches(trim(l), '{W.LINE_TERMINAL_RE}')
               AND NOT contains(trim(l), '{{')
               AND NOT contains(trim(l), '}}')
               AND NOT ({" OR ".join(f"contains(lower(trim(l)), '{w}')" for w in W.LINE_BLOCKWORDS)})
           ) AS keptl
    FROM lined
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(keptl) AS BIGINT) AS n_kept,
       coalesce(array_to_string(keptl, chr(10)), '') AS clean_text
FROM kept
"""


def txt_html_strip() -> str:
    """HTML-strip twin (webtext.strip_markup over the deterministic
    markup wrap built by q_txt_html_strip)."""
    from unsupervised_ner_spark.ops import webtext as W

    ent_chain = "no_tags"
    for ent, rep in W.HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        ent_chain = f"replace({ent_chain}, '{ent}', '{rep_sql}')"
    return f"""
WITH d AS (
    SELECT doc_id,
           '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
           || '</title><script type="text/javascript">var a=1; if(a<2){{a=3;}}</script>'
           || '<style>.c{{margin:0}}</style></head><body><h1>Header '
           || CAST(doc_id AS VARCHAR) || '</h1><p class="b">' || text
           || '</p><br/><div id="f">footer &amp; &lt;end&gt; &quot;fin&#39;</div></body></html>'
           AS text
    FROM documents
),
s1 AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{W.SCRIPT_RE}', ' ', 'g'),
                          '{W.STYLE_RE}', ' ', 'g') AS nost
    FROM d
),
s2 AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(nost, '{W.TAG_RE}')) AS BIGINT) AS n_tags,
           regexp_replace(nost, '{W.TAG_RE}', ' ', 'g') AS no_tags
    FROM s1
)
SELECT doc_id, n_tags,
       trim(regexp_replace({ent_chain}, '\\s+', ' ', 'g')) AS clean_text
FROM s2
"""


def txt_encoding() -> str:
    """Encoding-quality twin (webtext.encoding_quality over the
    deterministic corruption splice built by q_txt_encoding)."""
    from unsupervised_ner_spark.ops import webtext as W

    return f"""
WITH d AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 4 = 0 THEN ' cafÃ© naÃ¯ve' ELSE '' END
           || CASE WHEN doc_id % 5 = 0 THEN ' x' || chr(7) || 'y' ELSE '' END
           || CASE WHEN doc_id % 9 = 0 THEN ' bad{W.REPLACEMENT_CHAR}byte' ELSE '' END
           AS text
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(length(text) - length(replace(text, '{W.REPLACEMENT_CHAR}', ''))
                AS BIGINT) AS n_repl_chars,
           CAST(len(regexp_extract_all(text, '{W.CTRL_RE}')) AS BIGINT) AS n_ctrl_chars,
           CAST(len(regexp_extract_all(text, '{W.MOJIBAKE_RE}')) AS BIGINT) AS n_mojibake
    FROM d
)
SELECT doc_id, n_repl_chars, n_ctrl_chars, n_mojibake,
       (n_repl_chars > 0 OR n_ctrl_chars > 0 OR n_mojibake > 0) AS suspect
FROM m
"""


# shared entity-surface normalization (pipeline/er.py norm_surface_col twin)
_NORM_SURF = (
    "trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def kg_entity_salience(model: str = "a100") -> str:
    """Per-document entity salience twin (pipeline/er.py entity_salience):
    (url, ent, etype) mention counts + first-sentence index off the typed
    chain, ranked within the document by (n_mentions DESC, first_sent ASC,
    ent ASC, etype ASC)."""
    return _kg_prefix(model) + f"""
, e AS (
    SELECT url, sent_idx, {_NORM_SURF} AS ent, pred_group AS etype
    FROM typed
    WHERE pred_group <> 'OTHER' AND length({_NORM_SURF}) > 0
),
g AS (
    SELECT url, ent, etype,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(min(sent_idx) AS BIGINT) AS first_sent
    FROM e GROUP BY url, ent, etype
)
SELECT url, ent, etype, n_mentions, first_sent,
       first_sent = 0 AS in_lead,
       CAST(row_number() OVER (
            PARTITION BY url
            ORDER BY n_mentions DESC, first_sent ASC, ent ASC, etype ASC)
        AS BIGINT) AS salience_rank
FROM g
"""


def kg_doc_yield(model: str = "a100") -> str:
    """Per-document KG-yield twin (pipeline/runner.py doc_yield):
    sentence/mention/typed/entity/triple counts per url, zero-filled over
    the full document universe. The triple count embeds the full
    kg_triples chain as a subquery (DuckDB permits WITH inside a derived
    table)."""
    # no _materialize: the embedded kg_triples subquery carries its own
    # 'sents' CTE (the word-boundary assert would see 2) and the outer
    # double-consumed CTE is the cheap sentence split, not the typed chain
    return (
        _kg_prefix(model) + f"""
, sc AS (
    SELECT url, CAST(count(*) AS BIGINT) AS n_sents FROM sents GROUP BY url
),
ms AS (
    SELECT url,
           CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_typed,
           CAST(count(DISTINCT CASE WHEN keep THEN ent || '|' || etype END)
                AS BIGINT) AS n_entities
    FROM (
        SELECT url, {_NORM_SURF} AS ent, pred_group AS etype,
               (pred_group <> 'OTHER' AND length({_NORM_SURF}) > 0) AS keep
        FROM typed
    ) GROUP BY url
),
tc AS (
    SELECT url, CAST(count(*) AS BIGINT) AS n_triples
    FROM ({kg_triples(model)}) GROUP BY url
)
SELECT d.url,
       coalesce(sc.n_sents, 0) AS n_sents,
       coalesce(ms.n_mentions, 0) AS n_mentions,
       coalesce(ms.n_typed, 0) AS n_typed,
       coalesce(ms.n_entities, 0) AS n_entities,
       coalesce(tc.n_triples, 0) AS n_triples
FROM (SELECT CAST(doc_id AS VARCHAR) AS url FROM documents) d
LEFT JOIN sc ON d.url = sc.url
LEFT JOIN ms ON d.url = ms.url
LEFT JOIN tc ON d.url = tc.url
"""
    )


def kg_entity_ambiguity(model: str = "a100") -> str:
    """Type-ambiguity twin (pipeline/er.py entity_ambiguity): (ent, etype)
    counts -> per-ent type count / mention total / top type by
    (n DESC, etype ASC)."""
    return _kg_prefix(model) + f"""
, e AS (
    SELECT {_NORM_SURF} AS ent, pred_group AS etype
    FROM typed
    WHERE pred_group <> 'OTHER' AND length({_NORM_SURF}) > 0
    UNION ALL
    -- deterministic multi-type splice (q_kg_entity_ambiguity twin): the
    -- corpus has 0 naturally ambiguous surfaces, so every 7th doc adds
    -- 'ambi <did%5>' typed by did%3 (7 coprime with both moduli)
    SELECT 'ambi ' || CAST(doc_id % 5 AS VARCHAR) AS ent,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'PERSON'
                WHEN 1 THEN 'LOCATION' ELSE 'DISEASE' END AS etype
    FROM documents WHERE doc_id % 7 = 0
),
g AS (
    SELECT ent, etype, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY ent, etype
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY ent ORDER BY n DESC, etype ASC) AS rnk,
           CAST(sum(n) OVER (PARTITION BY ent) AS BIGINT) AS tot,
           CAST(count(*) OVER (PARTITION BY ent) AS BIGINT) AS ntypes
    FROM g
)
SELECT ent, ntypes AS n_types, tot AS n_mentions,
       etype AS top_type, n AS top_n, ntypes > 1 AS ambiguous
FROM r WHERE rnk = 1
"""


def kg_type_matrix(model: str = "a100") -> str:
    """Type co-occurrence twin (pipeline/er.py entity_type_matrix):
    distinct per-sentence types -> lexicographic type pairs -> bounded
    aggregate."""
    return _materialize(
        _kg_prefix(model) + f"""
, e AS (
    SELECT DISTINCT url, sent_idx, pred_group AS etype
    FROM typed
    WHERE pred_group <> 'OTHER' AND length({_NORM_SURF}) > 0
),
p AS (
    SELECT a.url, a.etype AS type_a, b.etype AS type_b
    FROM e a JOIN e b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.etype < b.etype
)
SELECT type_a, type_b,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM p GROUP BY type_a, type_b
""",
        "e",
    )


def kg_triple_diff(model: str = "a100") -> str:
    """Triple snapshot-diff twin (pipeline/triples.py
    triple_snapshot_diff): url-parity snapshots over the kg_triples
    chain, conditional distinct-url support per side, status CASE."""
    return f"""
WITH t AS ({kg_triples(model)}),
b AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type, url,
           (CAST(url AS BIGINT) % 4 <> 3) AS in_a,
           (CAST(url AS BIGINT) % 4 <> 1) AS in_b
    FROM t
),
agg AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type,
           CAST(count(DISTINCT CASE WHEN in_a THEN url END) AS BIGINT) AS n_a,
           CAST(count(DISTINCT CASE WHEN in_b THEN url END) AS BIGINT) AS n_b
    FROM b GROUP BY subj, subj_type, pred_norm, obj, obj_type
)
SELECT *, CASE WHEN n_a > 0 AND n_b > 0 THEN 'common'
               WHEN n_a > 0 THEN 'removed'
               ELSE 'added' END AS status
FROM agg
"""


def _links_html_subquery() -> str:
    """The deterministic anchor-markup construction (q_txt_links twin),
    as a standalone subquery over CTE ``parsed`` — shared by the link,
    anchor-text, canonical, and host-rank twins."""
    return """
    SELECT doc_id, url, scheme, host, path,
           '<html><body><p><a href="https://ext' || CAST(doc_id % 5 AS VARCHAR)
           || '.example.net/x">a</a>'
           || CASE WHEN doc_id % 2 = 0
                   THEN '<a href="sub/page' || CAST(doc_id % 3 AS VARCHAR) || '.html">r</a>'
                   ELSE '' END
           || CASE WHEN doc_id % 3 = 0 THEN '<a href="/top#frag">t</a>' ELSE '' END
           || CASE WHEN doc_id % 4 = 0 THEN '<a href="//cdn.example.org/lib.js">c</a>' ELSE '' END
           || CASE WHEN doc_id % 5 = 0
                   THEN '<a href="mailto:x@y.example">m</a><a href="javascript:void(0)">j</a>'
                   ELSE '' END
           || '<a href="/alias' || CAST(doc_id % 3 AS VARCHAR)
           || '"><b>Alias</b> Entity ' || CAST(doc_id % 3 AS VARCHAR) || '</a>'
           || '<a href="#top">f</a></p>'
           || CASE WHEN doc_id % 2 = 1
                   THEN '<link rel="canonical" href="https://canon.example.com/c'
                        || CAST(doc_id % 7 AS VARCHAR) || '">'
                   ELSE '' END
           || '</body></html>' AS html
FROM parsed"""


def _links_ctes() -> str:
    """Shared CTE chain for the link gates: synth URL parse -> anchor
    markup (q_txt_links twin) -> href extraction -> resolution. Ends
    with CTE ``links`` (url, link_raw, link_url, link_host)."""
    from unsupervised_ner_spark.ops import webtext as W

    return f"""
{_url_parse_ctes()},
h AS (SELECT * FROM ({_links_html_subquery()})),
raw AS (
    SELECT url, scheme, host, path,
           unnest(regexp_extract_all(html, '{W.HREF_RE}', 1)) AS link_raw
    FROM h
),
res AS (
    SELECT url, link_raw, scheme, host, path,
           regexp_replace(link_raw, '#.*$', '') AS t
    FROM raw
),
res2 AS (
    SELECT url, link_raw,
           CASE WHEN lower(t) LIKE 'http://%' OR lower(t) LIKE 'https://%' THEN t
                WHEN t LIKE '//%' THEN scheme || ':' || t
                WHEN t LIKE '/%' THEN scheme || '://' || host || t
                WHEN t = '' OR lower(t) LIKE 'javascript:%'
                     OR lower(t) LIKE 'mailto:%' THEN NULL
                ELSE scheme || '://' || host
                     || (CASE WHEN regexp_replace(path, '[^/]*$', '') = ''
                              THEN '/' ELSE regexp_replace(path, '[^/]*$', '') END)
                     || t
           END AS link_url
    FROM res
),
links AS (
    SELECT url, link_raw, link_url,
           lower(regexp_replace(regexp_extract(link_url, '{W.HOSTPORT_RE}', 1),
                                '{W.PORT_RE}', '')) AS link_host
    FROM res2 WHERE link_url IS NOT NULL
)"""


def txt_links() -> str:
    """Hyperlink extraction/resolution twin (webtext.extract_links)."""
    return f"""
WITH {_links_ctes()}
SELECT url, link_raw, link_url, link_host FROM links
"""


def txt_host_graph() -> str:
    """Host link-graph twin (webtext.host_link_graph)."""
    from unsupervised_ner_spark.ops import webtext as W

    return f"""
WITH {_links_ctes()}
SELECT lower(regexp_replace(regexp_extract(url, '{W.HOSTPORT_RE}', 1),
                            '{W.PORT_RE}', '')) AS src_host,
       link_host AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
       lower(regexp_replace(regexp_extract(url, '{W.HOSTPORT_RE}', 1),
                            '{W.PORT_RE}', '')) = link_host AS internal
FROM links GROUP BY 1, 2
"""


def _resolve_case_sql(t: str = "t") -> str:
    """The RFC-3986-lite resolution CASE (webtext._resolve_link_expr twin)
    over a fragment-stripped target column ``t`` with page columns
    scheme/host/path in scope."""
    return f"""CASE WHEN lower({t}) LIKE 'http://%' OR lower({t}) LIKE 'https://%' THEN {t}
                WHEN {t} LIKE '//%' THEN scheme || ':' || {t}
                WHEN {t} LIKE '/%' THEN scheme || '://' || host || {t}
                WHEN {t} = '' OR lower({t}) LIKE 'javascript:%'
                     OR lower({t}) LIKE 'mailto:%' THEN NULL
                ELSE scheme || '://' || host
                     || (CASE WHEN regexp_replace(path, '[^/]*$', '') = ''
                              THEN '/' ELSE regexp_replace(path, '[^/]*$', '') END)
                     || {t}
           END"""


def txt_anchor_texts() -> str:
    """Anchor-text alias-dictionary twin (webtext.extract_anchors +
    anchor_text_stats): href and inner markup re-paired positionally
    (same ATAG_RE, groups 1 and 2, index unnest), inner markup
    tag-stripped/collapsed/lowercased, resolution shared with txt_links."""
    from unsupervised_ner_spark.ops import webtext as W

    anorm = ("lower(trim(regexp_replace(regexp_replace(atext, "
             f"'{W.TAG_RE}', ' ', 'g'), '\\s+', ' ', 'g')))")
    return f"""
WITH {_url_parse_ctes()},
h AS (SELECT * FROM ({_links_html_subquery()})),
h2 AS (
    SELECT url, scheme, host, path,
           regexp_extract_all(html, '{W.ATAG_RE}', 1) AS l1,
           regexp_extract_all(html, '{W.ATAG_RE}', 2) AS l2
    FROM h
),
ax AS (
    SELECT url, scheme, host, path, l1, l2,
           unnest(range(1, len(l1) + 1)) AS i
    FROM h2
),
a2 AS (
    SELECT url, scheme, host, path,
           regexp_replace(l1[i], '#.*$', '') AS t,
           l2[i] AS atext
    FROM ax
),
a3 AS (
    SELECT url, {_resolve_case_sql()} AS link_url, {anorm} AS anchor_norm
    FROM a2
)
SELECT link_url, anchor_norm,
       CAST(count(*) AS BIGINT) AS n_anchors,
       CAST(count(DISTINCT url) AS BIGINT) AS n_pages
FROM a3
WHERE link_url IS NOT NULL AND anchor_norm <> ''
GROUP BY link_url, anchor_norm
"""


def txt_canonical() -> str:
    """Canonical-URL mapping twin (webtext.canonical_urls): first
    <link rel=canonical> href resolved, page url_norm fallback."""
    from unsupervised_ner_spark.ops import webtext as W

    return f"""
WITH {_url_parse_ctes()},
h AS (SELECT * FROM ({_links_html_subquery()})),
c AS (
    SELECT h.url, p2.url_norm, h.scheme, h.host, h.path,
           regexp_replace(regexp_extract(h.html, '{W.CANONICAL_RE}', 1),
                          '#.*$', '') AS t,
           regexp_extract(h.html, '{W.CANONICAL_RE}', 1) AS cand
    FROM h JOIN parsed p2 ON p2.url = h.url
)
SELECT url, url_norm,
       coalesce(CASE WHEN cand <> '' THEN {_resolve_case_sql()} END,
                url_norm) AS canonical_url,
       coalesce(CASE WHEN cand <> '' THEN {_resolve_case_sql()} END,
                url_norm) = url_norm AS is_self
FROM c
"""


def txt_host_rank(iterations: int = 3, scale: int = 1_000_000_000) -> str:
    """Host-PageRank twin: the SAME unrolled integer power steps as
    kg_pagerank, over the distinct external host-pair graph from the
    links chain."""
    tele = 15 * scale // 100
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        steps.append(
            f"""{cur} AS (
    SELECT d.k, d.deg,
           CAST({tele} + (85 * COALESCE(SUM(r.rank // r.deg), 0)) // 100
                AS BIGINT) AS rank
    FROM deg d
    LEFT JOIN sym s ON s.dst = d.k
    LEFT JOIN {prev} r ON r.k = s.src
    GROUP BY d.k, d.deg
)"""
        )
        prev = cur
    chain = ",\n".join(steps)
    from unsupervised_ner_spark.ops import webtext as W

    src = (f"lower(regexp_replace(regexp_extract(url, '{W.HOSTPORT_RE}', 1), "
           f"'{W.PORT_RE}', ''))")
    return _materialize(
        f"""
WITH {_links_ctes()},
g AS (
    SELECT DISTINCT {src} AS src, link_host AS dst
    FROM links WHERE {src} <> link_host
),
sym AS (
    SELECT src, dst FROM g UNION ALL SELECT dst AS src, src AS dst FROM g
),
deg AS (SELECT src AS k, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
r0 AS (SELECT k, deg, CAST({scale} AS BIGINT) AS rank FROM deg),
{chain}
SELECT k AS host, deg, rank AS rank_scaled FROM {prev}
""",
        "sym", "deg",
    )


def txt_host_hits(iterations: int = 2, scale: int = 1_000_000) -> str:
    """Integer HITS twin (ops/webtext.py host_hits): distinct external
    host edges, unrolled hub/authority half-steps with scalar-subquery
    max-normalization — same long arithmetic, bit-exact scores."""
    from unsupervised_ner_spark.ops import webtext as W

    src = (f"lower(regexp_replace(regexp_extract(url, '{W.HOSTPORT_RE}', 1), "
           f"'{W.PORT_RE}', ''))")
    steps = []
    prev_hub = "h0"
    last_auth = None
    for i in range(1, iterations + 1):
        a, h = f"a{i}", f"h{i}"
        steps.append(f"""{a}r AS (
    SELECT g.dst AS host, CAST(sum(x.hub) AS BIGINT) AS a
    FROM g JOIN {prev_hub} x ON x.host = g.src GROUP BY g.dst
),
{a}a AS (
    SELECT n.host, CAST(coalesce(r.a, 0) AS BIGINT) AS a
    FROM nodes n LEFT JOIN {a}r r ON r.host = n.host
),
{a} AS (
    SELECT host,
           CAST((a * {scale}) // (SELECT GREATEST(max(a), 1) FROM {a}a)
                AS BIGINT) AS auth
    FROM {a}a
),
{h}r AS (
    SELECT g.src AS host, CAST(sum(x.auth) AS BIGINT) AS h
    FROM g JOIN {a} x ON x.host = g.dst GROUP BY g.src
),
{h}a AS (
    SELECT n.host, CAST(coalesce(r.h, 0) AS BIGINT) AS h
    FROM nodes n LEFT JOIN {h}r r ON r.host = n.host
),
{h} AS (
    SELECT host,
           CAST((h * {scale}) // (SELECT GREATEST(max(h), 1) FROM {h}a)
                AS BIGINT) AS hub
    FROM {h}a
)""")
        prev_hub = h
        last_auth = a
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH {_links_ctes()},
g AS (
    SELECT DISTINCT {src} AS src, link_host AS dst
    FROM links WHERE {src} <> link_host
),
nodes AS (SELECT src AS host FROM g UNION SELECT dst FROM g),
h0 AS (SELECT host, CAST({scale} AS BIGINT) AS hub FROM nodes),
{chain}
SELECT n.host, hb.hub AS hub_scaled, au.auth AS auth_scaled
FROM nodes n
JOIN {prev_hub} hb ON hb.host = n.host
JOIN {last_auth} au ON au.host = n.host
""",
        "g", "nodes",
    )


def dedup_canonical() -> str:
    """Canonical-group dedup twin (webtext.canonical_dedup_groups over
    canonical_urls): group pages by declared canonical, size +
    lexicographic-min representative + self count."""
    return f"""
WITH c AS ({txt_canonical()})
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_pages,
       min(url_norm) AS representative,
       CAST(sum(CASE WHEN is_self THEN 1 ELSE 0 END) AS BIGINT) AS n_self
FROM c GROUP BY canonical_url
"""


def kg_entity_provenance(model: str = "a100") -> str:
    """Entity source-diversity twin (pipeline/er.py entity_provenance):
    typed chain joined to the URL-parse chain on url = doc_id, per-domain
    counts, dominant domain by (n DESC, domain ASC)."""
    return _kg_prefix(model) + f"""
, {_url_parse_ctes().lstrip()},
e AS (
    SELECT url, {_NORM_SURF} AS ent, pred_group AS etype
    FROM typed
    WHERE pred_group <> 'OTHER' AND length({_NORM_SURF}) > 0
),
dd AS (SELECT CAST(doc_id AS VARCHAR) AS url, reg_domain FROM parsed),
j AS (SELECT e.ent, e.etype, e.url, dd.reg_domain FROM e JOIN dd USING (url)),
gd AS (
    SELECT ent, etype, reg_domain,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT url) AS BIGINT) AS nd
    FROM j GROUP BY ent, etype, reg_domain
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY ent, etype
                              ORDER BY n DESC, reg_domain ASC) AS rnk,
           CAST(sum(n) OVER (PARTITION BY ent, etype) AS BIGINT) AS n_mentions,
           CAST(sum(nd) OVER (PARTITION BY ent, etype) AS BIGINT) AS n_docs,
           CAST(count(*) OVER (PARTITION BY ent, etype) AS BIGINT) AS n_domains
    FROM gd
)
SELECT ent, etype, n_mentions, n_docs, n_domains,
       reg_domain AS top_domain, n AS top_n
FROM r WHERE rnk = 1
"""


def txt_domain_quality() -> str:
    """Per-domain quality rollup twin (q_txt_domain_quality): URL-parse
    domains joined to the shared integer stats + quality CASE + lang."""
    return f"""
WITH {_url_parse_ctes()},
s AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           len(list_distinct({_LOWTOKS})) AS n_distinct_tokens,
           len(list_filter({_LOWTOKS}, t -> list_contains({_EN_SW}, t))) AS n_stopword_tokens
    FROM documents
),
q AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 'short'
                WHEN n_stopword_tokens * 100 < n_tokens * 3 THEN 'boilerplate'
                WHEN n_distinct_tokens * 100 < n_tokens * 40 THEN 'lowlex'
                ELSE 'good' END AS quality,
           n_tokens
    FROM s
),
b AS (
    SELECT p.reg_domain, q.quality, q.n_tokens, d.lang
    FROM parsed p
    JOIN q ON q.doc_id = p.doc_id
    JOIN documents d ON d.doc_id = p.doc_id
)
SELECT reg_domain,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN quality = 'good' THEN 1 ELSE 0 END) AS BIGINT) AS n_good,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM b GROUP BY reg_domain
"""


def _lpa_ctes(iterations: int) -> tuple[str, list[str], str]:
    """Shared LPA round chain (kg_communities + kg_modularity): the
    ``sym``/``l0``/vote-round CTE text (assumes an ``eg`` edge CTE in
    scope), the CTE names to materialize, and the final label CTE name."""
    steps = []
    mats = ["sym"]
    prev = "l0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""v{i} AS (
    SELECT s.dst, l.lbl, CAST(count(*) AS BIGINT) AS cnt
    FROM sym s JOIN {prev} l ON l.k = s.src
    GROUP BY s.dst, l.lbl
),
l{i} AS (
    SELECT dst AS k, lbl FROM (
        SELECT dst, lbl,
               row_number() OVER (PARTITION BY dst
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM v{i}
    ) WHERE rn = 1
)"""
        )
        if i < iterations:
            mats.append(f"l{i}")
        prev = f"l{i}"
    chain = """sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
l0 AS (SELECT DISTINCT src AS k, src AS lbl FROM sym),
""" + ",\n".join(steps)
    return chain, mats, prev


def kg_communities(model: str = "a100", iterations: int = 4) -> str:
    """Label-propagation twin (pipeline/er.py label_propagation):
    ``iterations`` unrolled synchronous rounds over the symmetrized
    co-occurrence adjacency, each round the deterministic
    (count DESC, label ASC) row_number vote — identical total order in
    both engines, so community ids are bit-exact."""
    chain, mats, prev = _lpa_ctes(iterations)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, {chain},
sizes AS (
    SELECT lbl, CAST(count(*) AS BIGINT) AS comm_size
    FROM {prev} GROUP BY lbl
)
SELECT string_split(f.k, '|')[1] AS ent, string_split(f.k, '|')[2] AS etype,
       f.lbl AS community, s.comm_size
FROM {prev} f JOIN sizes s USING (lbl)
""",
        *mats, prev,
    )


def kg_modularity(
    model: str = "a100", iterations: int = 4, scale: int = 1_000_000
) -> str:
    """Modularity twin (pipeline/er.py modularity): the SAME unrolled LPA
    chain, then per-community integer Newman contribution
    ``scale*in_c // m - scale*deg_c^2 // (4*m^2)`` (the exact
    (2*in_c)//(2m) == in_c//m simplification, applied on both engines)."""
    chain, mats, prev = _lpa_ctes(iterations)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, {chain},
memb AS (SELECT k, lbl FROM {prev}),
mtot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eg),
ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
intra AS (
    SELECT la.lbl, CAST(count(*) AS BIGINT) AS in_edges
    FROM ek
    JOIN memb la ON la.k = ek.ka
    JOIN memb lb ON lb.k = ek.kb
    WHERE la.lbl = lb.lbl
    GROUP BY la.lbl
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
grp AS (
    SELECT mb.lbl, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(d.deg) AS BIGINT) AS deg_sum
    FROM memb mb JOIN deg d ON d.src = mb.k
    GROUP BY mb.lbl
)
SELECT g.lbl AS community, g.n_nodes,
       CAST(coalesce(i.in_edges, 0) AS BIGINT) AS in_edges, g.deg_sum,
       CAST((CAST({scale} AS BIGINT) * coalesce(i.in_edges, 0)) // t.m
            - (CAST({scale} AS BIGINT) * g.deg_sum * g.deg_sum)
              // (4 * t.m * t.m) AS BIGINT) AS q_ppm
FROM grp g
LEFT JOIN intra i ON i.lbl = g.lbl
CROSS JOIN mtot t
""",
        "eg", *mats, "memb",
    )


def kg_walks(model: str = "a100", walks_per_node: int = 2, steps: int = 3) -> str:
    """Deterministic-walk twin (pipeline/er.py deterministic_walks):
    ``steps`` unrolled hops, each the md5-argmin neighbour under the SAME
    ``origin#walk_id#step#cur#neighbour`` hash input (md5 hex is
    lowercase in both engines; ties broken on the neighbour key)."""
    wid_rows = ", ".join(f"({i})" for i in range(walks_per_node))
    hops = []
    prev = "f0"
    for s in range(1, steps + 1):
        hops.append(
            f"""c{s} AS (
    SELECT f.origin, f.walk_id, f.path, s.dst,
           md5(f.origin || '#' || CAST(f.walk_id AS VARCHAR) || '#' || '{s}'
               || '#' || f.cur || '#' || s.dst) AS h
    FROM {prev} f JOIN sym s ON s.src = f.cur
),
f{s} AS (
    SELECT origin, walk_id, dst AS cur, path || '>' || dst AS path FROM (
        SELECT origin, walk_id, dst, path,
               row_number() OVER (PARTITION BY origin, walk_id
                                  ORDER BY h ASC, dst ASC) AS rn
        FROM c{s}
    ) WHERE rn = 1
)"""
        )
        prev = f"f{s}"
    chain = ",\n".join(hops)
    mats = ["sym"] + [f"f{s}" for s in range(steps)]
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
nodes AS (SELECT DISTINCT src AS origin FROM sym),
f0 AS (
    SELECT n.origin, CAST(w.walk_id AS BIGINT) AS walk_id,
           n.origin AS cur, n.origin AS path
    FROM nodes n, (VALUES {wid_rows}) w(walk_id)
),
{chain}
SELECT string_split(origin, '|')[1] AS ent, string_split(origin, '|')[2] AS etype,
       walk_id, path, CAST({steps} AS BIGINT) AS n_steps
FROM {prev}
""",
        *mats,
    )


def kg_fact_intervals(model: str = "a100", gap_days: int = 7) -> str:
    """SCD2 fact-interval twin (pipeline/triples.py fact_intervals over
    the deterministic url-derived warc_ts): distinct observation days per
    canonical fact, lag-marked run starts (gap > ``gap_days``), running-
    sum island numbering, one aggregate per (fact, island)."""
    ts = (
        "1704067200 + (CAST(url AS BIGINT) % 97) * 86400"
        " + (CAST(url AS BIGINT) % 24) * 3600"
    )
    key = "subj, subj_type, pred_norm, obj, obj_type"
    return f"""
WITH trip AS ({kg_triples(model)})
, days AS (
    SELECT {key}, CAST(({ts}) // 86400 AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_obs
    FROM trip GROUP BY ALL
),
marked AS (
    SELECT *,
           CASE WHEN lag(day) OVER w IS NULL
                  OR day - lag(day) OVER w > {gap_days}
                THEN 1 ELSE 0 END AS new_run
    FROM days
    WINDOW w AS (PARTITION BY {key} ORDER BY day)
),
run AS (
    SELECT *,
           CAST(sum(new_run) OVER (PARTITION BY {key} ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS interval_idx
    FROM marked
)
SELECT {key}, interval_idx,
       CAST(min(day) AS BIGINT) AS valid_from_day,
       CAST(max(day) AS BIGINT) AS valid_to_day,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(n_obs) AS BIGINT) AS n_obs
FROM run GROUP BY {key}, interval_idx
"""


def txt_lm_score(scale: int = 1_000_000) -> str:
    """Per-doc LM plausibility twin (ops/textstats.py lm_doc_score):
    corpus bigram conditional probabilities as integer scaled ratios,
    per-doc integer mean + decile bucket — same truncating division on
    positive longs in both engines."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
                               x -> x <> '') AS t
    FROM documents
),
bg AS (
    SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
    FROM tk, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS g(i)
),
pairs AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY w1, w2
),
lft AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM pairs GROUP BY w1),
lm AS (
    SELECT p.w1, p.w2,
           CAST(({scale} * p.n_pair) // l.n_w1 AS BIGINT) AS p_scaled
    FROM pairs p JOIN lft l USING (w1)
)
SELECT b.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p_scaled) // count(*) AS BIGINT) AS lm_score_scaled,
       CAST(((sum(p_scaled) // count(*)) * 10) // {scale} AS BIGINT) AS ppl_bucket
FROM bg b JOIN lm USING (w1, w2)
GROUP BY b.doc_id
""",
        "bg", "pairs",
    )


def txt_importance(target_lang: str = "en", scale: int = 1_000_000) -> str:
    """DSIR importance-weight twin (ops/textstats.py importance_weights):
    distinct (doc, term) projection, target/corpus df-ratio as integer
    scaled division, per-doc integer mean over distinct terms."""
    return _materialize(
        f"""
WITH dt AS (
    SELECT DISTINCT doc_id, lang, u.t AS term
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS u(t)
),
dfa AS (SELECT term, CAST(count(*) AS BIGINT) AS df_corpus FROM dt GROUP BY term),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df_target
        FROM dt WHERE lang = '{target_lang}' GROUP BY term),
ratio AS (
    SELECT a.term,
           CAST(({scale} * COALESCE(t.df_target, 0)) // a.df_corpus
                AS BIGINT) AS r_scaled
    FROM dfa a LEFT JOIN dft t USING (term)
)
SELECT d.doc_id, d.lang,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(r_scaled) // count(*) AS BIGINT) AS importance_scaled,
       CAST(CASE WHEN d.lang = '{target_lang}' THEN 1 ELSE 0 END AS BIGINT)
           AS in_target
FROM dt d JOIN ratio USING (term)
GROUP BY d.doc_id, d.lang
""",
        "dt",
    )


def kg_walk_pairs(model: str = "a100", window: int = 2) -> str:
    """Skip-gram walk-pair twin (pipeline/er.py walk_skipgram_pairs):
    paths from the walk chain split on '>', forward pairs for every hop
    offset 1..window via generate_series, one aggregate, node keys split
    back into (ent, type)."""
    offs = []
    for off in range(1, window + 1):
        offs.append(
            f"""SELECT a[g.i] AS src, a[g.i + {off}] AS dst,
       CAST({off} AS BIGINT) AS dist
FROM pa, UNNEST(generate_series(1, greatest(len(a) - {off}, 0))) AS g(i)"""
        )
    union = "\nUNION ALL\n".join(offs)
    return _materialize(
        f"""
WITH wk AS ({kg_walks(model)})
, pa AS (SELECT string_split(path, '>') AS a FROM wk),
pp AS (
{union}
),
agg AS (
    SELECT src, dst, dist, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pp GROUP BY src, dst, dist
)
SELECT string_split(src, '|')[1] AS src_ent, string_split(src, '|')[2] AS src_type,
       string_split(dst, '|')[1] AS dst_ent, string_split(dst, '|')[2] AS dst_type,
       dist, n_pairs
FROM agg
""",
        "pa",
    )


def kg_degree_dist(model: str = "a100") -> str:
    """Degree-distribution twin (pipeline/er.py degree_distribution):
    bucket = bit length of the degree minus one (length(bin(deg)) - 1 —
    exact floor(log2), no libm), integer 2^bucket bounds via shifts."""
    return f"""
WITH dg AS ({kg_entity_degree(model)})
, bk AS (
    SELECT etype,
           CAST(length(bin(degree)) - 1 AS BIGINT) AS bucket
    FROM dg
)
SELECT etype, bucket,
       CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS deg_lo,
       CAST((CAST(1 AS BIGINT) << (bucket + 1)) - 1 AS BIGINT) AS deg_hi,
       CAST(count(*) AS BIGINT) AS n_entities
FROM bk GROUP BY etype, bucket
"""


def kg_fact_churn(model: str = "a100") -> str:
    """Fact-churn twin (pipeline/triples.py fact_churn): two cascaded
    aggregates over the SCD2 interval chain — intervals to facts, facts
    to the predicate vocabulary."""
    return _materialize(
        f"""
WITH iv AS ({kg_fact_intervals(model)})
, per_fact AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(valid_to_day - valid_from_day + 1) AS BIGINT) AS covered_days,
           CAST(sum(n_obs) AS BIGINT) AS n_obs
    FROM iv GROUP BY subj, subj_type, pred_norm, obj, obj_type
)
SELECT pred_norm,
       CAST(count(*) AS BIGINT) AS n_facts,
       CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
       CAST(sum(CASE WHEN n_intervals >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_retracted,
       CAST(sum(CASE WHEN n_intervals = 1 AND covered_days = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flash,
       CAST(sum(covered_days) AS BIGINT) AS covered_days,
       CAST(sum(n_obs) AS BIGINT) AS n_obs
FROM per_fact GROUP BY pred_norm
""",
        "per_fact",
    )


def txt_crawl_frontier(k: int = 3) -> str:
    """Crawl-frontier twin (ops/webtext.py crawl_frontier): (host,
    url_norm) dedup to min doc_id, md5(url_norm) priority, per-host
    (priority, url_norm) row_number <= k with the host total riding the
    same window partition."""
    return f"""
WITH {_url_parse_ctes()}
, dedup AS (
    SELECT host, url_norm, CAST(min(doc_id) AS BIGINT) AS doc_id,
           md5(url_norm) AS priority
    FROM parsed GROUP BY host, url_norm
),
ranked AS (
    SELECT host, url_norm, doc_id, priority,
           CAST(row_number() OVER (PARTITION BY host
                                   ORDER BY priority ASC, url_norm ASC)
                AS BIGINT) AS rank,
           CAST(count(*) OVER (PARTITION BY host) AS BIGINT) AS n_host_urls
    FROM dedup
)
SELECT * FROM ranked WHERE rank <= {k}
"""


def kg_link_predict(model: str = "a100", scale: int = 1_000_000) -> str:
    """Link-prediction twin (pipeline/er.py link_prediction): the
    common-neighbor chain with the witness degree carried onto the wedge
    row — RA index = sum(scale // deg(mid)) rides the same aggregate as
    the count; Jaccard computed from full degrees with the same
    truncating division."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c FROM sym))"
    )
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
sym AS (
    SELECT ka AS mid, kb AS nb FROM ek
    UNION ALL
    SELECT kb AS mid, ka AS nb FROM ek
),
deg AS (SELECT mid, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY mid),
mids AS (
    SELECT s.mid, d.deg, s.nb FROM sym s JOIN deg d USING (mid)
    WHERE d.deg <= {cap}
),
cn AS (
    SELECT a.nb AS kx, b.nb AS ky,
           CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(CAST({scale} AS BIGINT) // a.deg) AS BIGINT) AS ra_scaled
    FROM mids a JOIN mids b ON a.mid = b.mid AND a.nb < b.nb
    GROUP BY a.nb, b.nb
)
SELECT string_split(c.kx, '|')[1] AS ent_x, string_split(c.kx, '|')[2] AS type_x,
       string_split(c.ky, '|')[1] AS ent_y, string_split(c.ky, '|')[2] AS type_y,
       c.n_common, dx.deg AS deg_x, dy.deg AS deg_y,
       CAST(CASE WHEN e.ka IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS linked,
       CAST((CAST({scale} AS BIGINT) * c.n_common)
            // (dx.deg + dy.deg - c.n_common) AS BIGINT) AS jaccard_scaled,
       c.ra_scaled
FROM cn c
JOIN deg dx ON dx.mid = c.kx
JOIN deg dy ON dy.mid = c.ky
LEFT JOIN ek e ON e.ka = c.kx AND e.kb = c.ky
""",
        "ek", "sym", "deg", "mids",
    )


def kg_ktruss(model: str = "a100", k: int = 3, rounds: int = 2) -> str:
    """k-truss twin (pipeline/er.py ktruss): ``rounds`` unrolled peels,
    each the LEX-oriented triangle enumeration (identical triangle set to
    the engine's degree orientation), 3-edge support emission, per-edge
    count, >= k-2 filter."""
    steps = []
    mats = []
    prev = "ek0"
    for i in range(1, rounds + 1):
        steps.append(
            f"""t{i} AS (
    SELECT e1.ka AS x, e1.kb AS y, e2.kb AS z
    FROM {prev} e1
    JOIN {prev} e2 ON e2.ka = e1.kb
    JOIN {prev} e3 ON e3.ka = e1.ka AND e3.kb = e2.kb
),
se{i} AS (
    SELECT x AS ka, y AS kb FROM t{i}
    UNION ALL SELECT y, z FROM t{i}
    UNION ALL SELECT x, z FROM t{i}
),
sp{i} AS (
    SELECT ka, kb, CAST(count(*) AS BIGINT) AS support
    FROM se{i} GROUP BY ka, kb
),
ek{i} AS (
    SELECT e.ka, e.kb, s.support
    FROM {prev} e JOIN sp{i} s USING (ka, kb)
    WHERE s.support >= {k - 2}
)"""
        )
        mats.append(prev)
        prev = f"ek{i}"
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek0 AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
{chain}
SELECT string_split(ka, '|')[1] AS ent_a, string_split(ka, '|')[2] AS type_a,
       string_split(kb, '|')[1] AS ent_b, string_split(kb, '|')[2] AS type_b,
       support
FROM {prev}
""",
        *mats,
    )


def rel_pivot() -> str:
    """Pivot twin (q_rel_pivot): conditional aggregation over the explicit
    return-flag value list; quantities cast to BIGINT BEFORE summing
    (exact integers in the data, so truncation-vs-round never fires)."""
    return """
SELECT l_linestatus,
       CAST(sum(CASE WHEN l_returnflag = 'A'
                     THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_a,
       CAST(sum(CASE WHEN l_returnflag = 'N'
                     THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_n,
       CAST(sum(CASE WHEN l_returnflag = 'R'
                     THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_r
FROM lineitem GROUP BY l_linestatus
"""


def rel_cube() -> str:
    """CUBE twin (q_rel_cube): GROUP BY CUBE with GROUPING(a, b) — the
    same bit order as Spark's grouping_id (first column = MSB)."""
    return """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def mm_ahash(n_px: int = 64, source: str = "documents") -> str:
    """Average-hash twin (ops/multimodal.py average_hash): the payload's
    hex projection sampled at ``byte[(j*n) // n_px]``, integer mean
    threshold, ordered bit-string aggregation — byte-exact vs the Spark
    kernel's raw-byte loop. ``source`` lets the groups gate feed a
    spliced corpus through the same chain."""
    hv = "(strpos('0123456789ABCDEF', {c}) - 1)"
    c1 = hv.format(c="substring(phex, ((j * n) // %d) * 2 + 1, 1)" % n_px)
    c2 = hv.format(c="substring(phex, ((j * n) // %d) * 2 + 2, 1)" % n_px)
    return _materialize(
        f"""
WITH m AS (
    SELECT doc_id, upper(hex(encode(text))) AS phex,
           octet_length(encode(text)) AS n
    FROM {source}
),
px AS (
    SELECT doc_id, n, j,
           CASE WHEN n = 0 THEN 0 ELSE 16 * {c1} + {c2} END AS p
    FROM m, UNNEST(generate_series(0, {n_px - 1})) AS u(j)
),
mn AS (
    SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n,
           sum(p) // {n_px} AS mean
    FROM px GROUP BY doc_id
)
SELECT px.doc_id,
       CAST(mn.n AS BIGINT) AS n_bytes,
       string_agg(CASE WHEN px.p >= mn.mean THEN '1' ELSE '0' END, ''
                  ORDER BY px.j) AS ahash_bits,
       CAST(sum(CASE WHEN px.p >= mn.mean THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ones
FROM px JOIN mn USING (doc_id)
GROUP BY px.doc_id, mn.n
""",
        "px",
    )


def kg_ppr(
    model: str = "a100",
    seed_type: str = "DISEASE",
    iterations: int = 3,
    scale: int = 1_000_000_000,
) -> str:
    """Personalized-PageRank twin (pipeline/er.py personalized_pagerank):
    teleport mass only on the seed-type nodes, same unrolled integer
    recurrence as kg_pagerank."""
    tele = 15 * scale // 100
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        cur = f"r{i}"
        steps.append(
            f"""{cur} AS (
    SELECT d.k, d.deg, d.seed,
           CAST(d.seed * {tele}
                + (85 * COALESCE(SUM(r.rank // r.deg), 0)) // 100
                AS BIGINT) AS rank
    FROM deg d
    LEFT JOIN sym s ON s.dst = d.k
    LEFT JOIN {prev} r ON r.k = s.src
    GROUP BY d.k, d.deg, d.seed
)"""
        )
        prev = cur
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
deg AS (
    SELECT src AS k, CAST(count(*) AS BIGINT) AS deg,
           CAST(CASE WHEN string_split(src, '|')[2] = '{seed_type}'
                     THEN 1 ELSE 0 END AS BIGINT) AS seed
    FROM sym GROUP BY src
),
r0 AS (SELECT k, deg, seed, CAST(seed * {scale} AS BIGINT) AS rank FROM deg),
{chain}
SELECT string_split(k, '|')[1] AS ent, string_split(k, '|')[2] AS etype,
       deg, seed, rank AS rank_scaled
FROM {prev}
""",
        "sym", "deg",
    )


def mm_ahash_groups(every: int = 25) -> str:
    """aHash near-dup group twin: identical 64-bit signatures collapse to
    one group with size + min representative doc. The word-salad corpus
    carries no byte-identical payloads (measured 0 groups at sf0.001), so
    the gate unions a deterministic doc_id-derived duplicate splice
    (every ``every``-th doc re-enters at doc_id + 1000000 — the Hearst
    TEXT-splice precedent) replayed identically by both engines; the
    HAVING >= 2 branch is therefore exercised, and every group must
    contain exactly the spliced pair unless the corpus itself collides."""
    return _materialize(
        f"""
WITH spliced AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % {every} = 0
),
ah AS ({mm_ahash(source="spliced")})
SELECT ahash_bits,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS rep_doc,
       CAST(min(n_ones) AS BIGINT) AS n_ones
FROM ah GROUP BY ahash_bits
HAVING count(*) >= 2
""",
        "ah",
    )


def dedup_winnowing(k: int = 4, w: int = 4) -> str:
    """Winnowing twin (ops/dedup.py winnowing_fingerprints): per-doc
    k-gram md5 list, w-hash sliding window, min hash with RIGHTMOST tie
    (position via the reversed-slice trick — identical arithmetic to the
    Spark expression), per-doc distinct selections, corpus aggregate with
    lpad keep-first provenance."""
    return _materialize(
        f"""
WITH tk AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
    FROM documents
),
hl AS (
    SELECT doc_id,
           [md5(array_to_string(t[i:i + {k - 1}], ' '))
            FOR i IN generate_series(1, len(t) - {k} + 1)] AS hs
    FROM tk WHERE len(t) >= {k}
),
sel AS (
    SELECT DISTINCT doc_id,
           list_min(hs[j:j + {w - 1}]) AS fp,
           j + least(len(hs[j:j + {w - 1}]), {w})
             - list_position(list_reverse(hs[j:j + {w - 1}]),
                             list_min(hs[j:j + {w - 1}])) AS pos
    FROM hl, UNNEST(generate_series(1, greatest(len(hs) - {w} + 1, 1))) AS u(j)
),
keyed AS (
    SELECT fp, doc_id,
           lpad(CAST(doc_id AS VARCHAR), 12, '0') || '|' ||
           lpad(CAST(pos AS VARCHAR), 12, '0') AS kk
    FROM sel
)
SELECT fp,
       CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(string_split(min(kk), '|')[1] AS BIGINT) AS keep_doc_id,
       CAST(string_split(min(kk), '|')[2] AS BIGINT) AS keep_pos
FROM keyed GROUP BY fp
""",
        "hl",
    )


def kg_schema_violations(model: str = "a100") -> str:
    """Schema-violation twin (pipeline/triples.py schema_violations):
    predicate type-pair histogram, dominant signature via the SAME
    (-n, subj_type, obj_type) struct-min argmax (row_number twin),
    distinct-triple join, deviation filter."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)})
, hist AS (
    SELECT pred_norm, subj_type, obj_type,
           CAST(count(*) AS BIGINT) AS n_pair
    FROM trip GROUP BY pred_norm, subj_type, obj_type
),
dom AS (
    SELECT pred_norm, subj_type AS dom_subj_type, obj_type AS dom_obj_type,
           n_pair AS n_dominant, n_pred_triples
    FROM (
        SELECT h.*,
               row_number() OVER (PARTITION BY pred_norm
                                  ORDER BY n_pair DESC, subj_type ASC,
                                           obj_type ASC) AS rn,
               CAST(sum(n_pair) OVER (PARTITION BY pred_norm) AS BIGINT)
                   AS n_pred_triples
        FROM hist h
    ) WHERE rn = 1
),
dt AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type,
           CAST(count(DISTINCT url) AS BIGINT) AS n_docs
    FROM trip GROUP BY subj, subj_type, pred_norm, obj, obj_type
)
SELECT dt.subj, dt.subj_type, dt.pred_norm, dt.obj, dt.obj_type, dt.n_docs,
       d.dom_subj_type, d.dom_obj_type, d.n_dominant, d.n_pred_triples
FROM dt JOIN dom d USING (pred_norm)
WHERE dt.subj_type <> d.dom_subj_type OR dt.obj_type <> d.dom_obj_type
""",
        "trip",
    )


def txt_kmv_registers(k: int = 64, prune_at: int = 1) -> str:
    """KMV register twin (ops/sketches.py kmv_registers over per-lang
    distinct lowercase tokens): identical adaptive leading-zero pruning
    (p from the exact bit-length integer log of count//4096), per-group
    row_number rank over the pruned hashes."""
    return _materialize(
        f"""
WITH dtok AS (
    SELECT DISTINCT lang, u.t AS tok
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(lower(text), '\\s+'),
                            x -> x <> '')) AS u(t)
),
dt AS (SELECT lang, md5(tok) AS h FROM dtok),
cnt AS (
    SELECT lang, CAST(count(*) AS BIGINT) AS n_vals,
           CAST(CASE WHEN count(*) < {prune_at} THEN 0
                ELSE (length(bin(count(*) // {prune_at})) - 1) // 4
                END AS BIGINT) AS p
    FROM dt GROUP BY lang
),
pruned AS (
    SELECT d.lang, d.h, c.n_vals, c.p
    FROM dt d JOIN cnt c USING (lang)
    WHERE substring(d.h, 1, CAST(c.p AS INTEGER)) = repeat('0', CAST(c.p AS INTEGER))
)
SELECT lang, rk, h, n_vals, p FROM (
    SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY h ASC)
                   AS BIGINT) AS rk
    FROM pruned
) WHERE rk <= {k}
""",
        "dt",
    )


def dedup_containment(
    scale: int = 1_000_000, flag_num: int = 4, flag_den: int = 5
) -> str:
    """Containment twin (ops/dedup.py containment_candidates): the
    dedup_jaccard chain with the two asymmetric scaled scores and the
    cross-multiplied contained flag as derived columns."""
    return f"""
WITH jp AS ({dedup_jaccard()})
SELECT doc_a, doc_b, n_common, n_a, n_b,
       CAST((CAST({scale} AS BIGINT) * n_common) // n_a AS BIGINT)
           AS cont_a_scaled,
       CAST((CAST({scale} AS BIGINT) * n_common) // n_b AS BIGINT)
           AS cont_b_scaled,
       CAST(CASE WHEN GREATEST(
                 (CAST({scale} AS BIGINT) * n_common) // n_a,
                 (CAST({scale} AS BIGINT) * n_common) // n_b
            ) * {flag_den} >= {flag_num} * CAST({scale} AS BIGINT)
            THEN 1 ELSE 0 END AS BIGINT) AS contained
FROM jp
"""


def rel_semi_anti() -> str:
    """Semi/anti twin (q_rel_semi_anti): per-customer order existence via
    EXISTS — the NOT-EXISTS rows are the anti-join side."""
    return """
SELECT c_custkey, c_name, c_mktsegment,
       CAST(CASE WHEN EXISTS (
           SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       ) THEN 1 ELSE 0 END AS BIGINT) AS has_orders
FROM customer c
"""


def txt_bpe_merge2(max_word_len: int = 30) -> str:
    """Second-iteration BPE twin (ops/textstats.bpe_second_iteration):
    iteration-1 argmax merge (n_occ DESC, l ASC, r ASC), applied with
    plain replace (left-to-right non-overlapping in both engines) to a
    chr(1) placeholder, adjacent-symbol pairs re-counted with the merged
    symbol spelled out."""
    return _materialize(
        f"""
WITH words AS (
    SELECT lower(t) AS word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_TOKS}) AS t FROM documents)
    GROUP BY 1
),
wv AS (
    SELECT word, freq FROM words
    WHERE length(word) >= 2 AND length(word) <= {max_word_len}
),
it1 AS (
    SELECT substr(word, CAST(i AS INT), 1) AS l,
           substr(word, CAST(i AS INT) + 1, 1) AS r,
           CAST(sum(freq) AS BIGINT) AS n_occ
    FROM (SELECT word, freq, unnest(range(1, length(word))) AS i FROM wv)
    GROUP BY 1, 2
),
m1 AS (
    SELECT l AS merge_l, r AS merge_r FROM it1
    ORDER BY n_occ DESC, l ASC, r ASC LIMIT 1
),
wm AS (
    SELECT w.word, w.freq, m.merge_l, m.merge_r,
           replace(w.word, m.merge_l || m.merge_r, chr(1)) AS word2
    FROM wv w, m1 m
),
pp AS (
    SELECT word, freq, merge_l, merge_r,
           substr(word2, CAST(i AS INT), 1) AS l,
           substr(word2, CAST(i AS INT) + 1, 1) AS r
    FROM (SELECT *, unnest(range(1, length(word2))) AS i
          FROM wm WHERE length(word2) >= 2)
)
SELECT CASE WHEN l = chr(1) THEN merge_l || merge_r ELSE l END AS left_sym,
       CASE WHEN r = chr(1) THEN merge_l || merge_r ELSE r END AS right_sym,
       merge_l, merge_r,
       CAST(sum(freq) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT word) AS BIGINT) AS n_words
FROM pp GROUP BY 1, 2, 3, 4
""",
        "wv",
    )


def kg_walks2(
    model: str = "a100",
    walks_per_node: int = 2,
    steps: int = 3,
    return_rank: int = 2,
    common_rank: int = 0,
    explore_rank: int = 1,
) -> str:
    """Second-order walk twin (pipeline/er.py deterministic_walks2):
    unrolled hops, each candidate classed by a LEFT probe of the
    canonical pair table on (least, greatest)(prev, dst) — Spark and
    DuckDB both skip NULLs in least/greatest, and the strict pa < pb
    pair table makes the prev-NULL probe a guaranteed miss, so the
    first hop is pure-hash in both engines."""
    wid_rows = ", ".join(f"({i})" for i in range(walks_per_node))
    hops = []
    prev = "f0"
    for s in range(1, steps + 1):
        hops.append(
            f"""c{s} AS (
    SELECT f.origin, f.walk_id, f.path, f.cur, f.prev, s.dst,
           md5(f.origin || '#' || CAST(f.walk_id AS VARCHAR) || '#' || '{s}'
               || '#' || f.cur || '#' || s.dst) AS h,
           CASE WHEN f.prev IS NULL THEN {explore_rank}
                WHEN s.dst = f.prev THEN {return_rank}
                WHEN ep.pa IS NOT NULL THEN {common_rank}
                ELSE {explore_rank} END AS cls
    FROM {prev} f
    JOIN sym s ON s.src = f.cur
    LEFT JOIN epair ep
      ON ep.pa = least(f.prev, s.dst) AND ep.pb = greatest(f.prev, s.dst)
),
f{s} AS (
    SELECT origin, walk_id, dst AS cur, cur AS prev,
           path || '>' || dst AS path
    FROM (
        SELECT origin, walk_id, cur, dst, path,
               row_number() OVER (PARTITION BY origin, walk_id
                                  ORDER BY cls ASC, h ASC, dst ASC) AS rn
        FROM c{s}
    ) WHERE rn = 1
)"""
        )
        prev = f"f{s}"
    chain = ",\n".join(hops)
    mats = ["sym", "epair"] + [f"f{s}" for s in range(steps)]
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS src, ent_a || '|' || type_a AS dst FROM eg
),
epair AS (
    SELECT DISTINCT src AS pa, dst AS pb FROM sym WHERE src < dst
),
nodes AS (SELECT DISTINCT src AS origin FROM sym),
f0 AS (
    SELECT n.origin, CAST(w.walk_id AS BIGINT) AS walk_id,
           n.origin AS cur, CAST(NULL AS VARCHAR) AS prev, n.origin AS path
    FROM nodes n, (VALUES {wid_rows}) w(walk_id)
),
{chain}
SELECT string_split(origin, '|')[1] AS ent, string_split(origin, '|')[2] AS etype,
       walk_id, path, CAST({steps} AS BIGINT) AS n_steps
FROM {prev}
""",
        *mats,
    )


def rel_unpivot() -> str:
    """Unpivot twin (q_rel_unpivot): UNION ALL stack of the pivot's
    conditional aggregates, NULL cells dropped (the pinned semantic)."""
    return f"""
WITH p AS ({rel_pivot()})
SELECT l_linestatus, 'A' AS l_returnflag, qty_a AS qty FROM p WHERE qty_a IS NOT NULL
UNION ALL
SELECT l_linestatus, 'N', qty_n FROM p WHERE qty_n IS NOT NULL
UNION ALL
SELECT l_linestatus, 'R', qty_r FROM p WHERE qty_r IS NOT NULL
"""


def ann_recall(n_queries: int = 5, k: int = 5, scale: int = 1_000_000) -> str:
    """ANN recall twin (ops/simsearch.py ann_recall): brute-force top-k
    as ground truth, per-query hit counts for the single- and 2-probe
    IVF chains, integer scaled recall."""
    return _materialize(
        f"""
WITH bf AS (
    SELECT query_id, neighbor_id FROM ({ann_bruteforce(n_queries, k)})
),
qs AS (SELECT DISTINCT query_id FROM bf),
i1 AS (
    SELECT query_id, neighbor_id FROM ({ann_ivf_topk(n_queries, k)})
),
i2 AS (
    SELECT query_id, neighbor_id FROM ({ann_ivf_topk_probe(n_queries, k, 2)})
),
h1 AS (
    SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hit
    FROM i1 i JOIN bf USING (query_id, neighbor_id) GROUP BY i.query_id
),
h2 AS (
    SELECT i.query_id, CAST(count(*) AS BIGINT) AS n_hit
    FROM i2 i JOIN bf USING (query_id, neighbor_id) GROUP BY i.query_id
)
SELECT 'ivf1' AS method, q.query_id,
       COALESCE(h.n_hit, 0) AS n_hit, CAST({k} AS BIGINT) AS k,
       CAST(CAST({scale} AS BIGINT) * COALESCE(h.n_hit, 0) // {k} AS BIGINT)
           AS recall_scaled
FROM qs q LEFT JOIN h1 h USING (query_id)
UNION ALL
SELECT 'ivf2', q.query_id,
       COALESCE(h.n_hit, 0), CAST({k} AS BIGINT),
       CAST(CAST({scale} AS BIGINT) * COALESCE(h.n_hit, 0) // {k} AS BIGINT)
FROM qs q LEFT JOIN h2 h USING (query_id)
""",
        "bf",
    )


def dedup_lsh_quality(
    thr_num: int = 1, thr_den: int = 2, scale: int = 1_000_000
) -> str:
    """LSH-quality twin (ops/dedup.py lsh_quality): exact-Jaccard truth
    at the integer cross-multiplied threshold, production LSH candidate
    pairs, one summary row with scaled recall/precision."""
    return _materialize(
        f"""
WITH je AS ({dedup_jaccard_exact()})
, truth AS (
    SELECT doc_a, doc_b FROM je
    WHERE n_common * {thr_den} >= {thr_num} * (n_a + n_b - n_common)
),
lshp AS (
    SELECT doc_a, doc_b FROM ({dedup_minhash_lsh()})
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM lshp),
nh AS (
    SELECT CAST(count(*) AS BIGINT) AS n_hit
    FROM truth t JOIN lshp c USING (doc_a, doc_b)
)
SELECT n_true, n_cand, n_hit,
       CAST(CASE WHEN n_true = 0 THEN {scale}
            ELSE CAST({scale} AS BIGINT) * n_hit // n_true END AS BIGINT)
           AS recall_scaled,
       CAST(CASE WHEN n_cand = 0 THEN {scale}
            ELSE CAST({scale} AS BIGINT) * n_hit // n_cand END AS BIGINT)
           AS precision_scaled
FROM nt, nc, nh
""",
        "truth", "lshp",
    )


# ---------------------------------------------------------------------------
# lakehouse table-maintenance / scale-ops twins (ops/layout.py)
# ---------------------------------------------------------------------------


def _morton_sql(a: str, b: str, bits: int) -> str:
    """Bit-interleave twin of ops/layout.morton_key: identical shift/mask
    term sum, pure BIGINT operators on both engines."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def rel_zorder(bits: int = 10, cell_shift: int = 10) -> str:
    """Z-order key twin (q_rel_zorder): 10-bit dims from doc_id mod 1024
    and hex8(md5(source)) mod 1024, Morton interleave, coarse cell."""
    dim_h = f"({_hex8_int_sql('md5(source)')} % 1024)"
    z = _morton_sql("dim_t", "dim_h", bits)
    return f"""
WITH d AS (
    SELECT doc_id, CAST(doc_id % 1024 AS BIGINT) AS dim_t,
           CAST({dim_h} AS BIGINT) AS dim_h
    FROM documents
)
SELECT doc_id, dim_t, dim_h,
       CAST({z} AS BIGINT) AS zkey,
       CAST(({z} >> {cell_shift}) AS BIGINT) AS zcell
FROM d
"""


def rel_compaction_plan(target_bytes: int = 4096) -> str:
    """Compaction-plan twin (ops/layout.compaction_plan): per-partition
    cumulative byte sum in file_id order, group = (run - bytes) intdiv
    target; strlen = UTF-8 byte length (Spark octet_length twin)."""
    return f"""
WITH files AS (
    SELECT lang AS part, CAST(doc_id AS BIGINT) AS file_id,
           CAST(strlen(text) AS BIGINT) AS bytes
    FROM documents
),
g AS (
    SELECT part, file_id, bytes,
           (sum(bytes) OVER (PARTITION BY part ORDER BY file_id
                             ROWS UNBOUNDED PRECEDING) - bytes)
           // {target_bytes} AS group_id
    FROM files
)
SELECT part, CAST(group_id AS BIGINT) AS group_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(min(file_id) AS BIGINT) AS min_file_id,
       CAST(max(file_id) AS BIGINT) AS max_file_id
FROM g GROUP BY part, group_id
"""


def rel_merge_upsert() -> str:
    """MERGE-upsert twin (ops/layout.merge_upsert over the deterministic
    CDC batch of q_rel_merge_upsert): delete %7, update %5-not-%7
    (n_tokens+1), insert %11 at key+10M; action audit column."""
    return """
WITH target AS (
    SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
                AS BIGINT) AS n_tokens
    FROM documents
),
changes AS (
    SELECT doc_id, lang, n_tokens, 'D' AS op FROM target WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id, lang, n_tokens + 1, 'U' FROM target
    WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0
    UNION ALL
    SELECT doc_id + 10000000, lang, n_tokens, 'U' FROM target WHERE doc_id % 11 = 0
),
j AS (
    SELECT t.doc_id AS t_doc_id, t.lang AS t_lang, t.n_tokens AS t_n_tokens,
           c.doc_id AS c_doc_id, c.lang AS c_lang, c.n_tokens AS c_n_tokens, c.op
    FROM target t FULL OUTER JOIN changes c ON t.doc_id = c.doc_id
)
SELECT t_doc_id AS doc_id, t_lang AS lang, t_n_tokens AS n_tokens,
       'kept' AS action
FROM j WHERE c_doc_id IS NULL
UNION ALL
SELECT c_doc_id, c_lang, c_n_tokens, 'updated'
FROM j WHERE c_doc_id IS NOT NULL AND t_doc_id IS NOT NULL AND op = 'U'
UNION ALL
SELECT c_doc_id, c_lang, c_n_tokens, 'inserted'
FROM j WHERE t_doc_id IS NULL AND op = 'U'
"""


def txt_hot_keys(top_k: int = 20, hot_ppm: int = 10_000) -> str:
    """Skew-report twin (ops/layout.skew_report over the lowercased token
    stream): exact per-key counts, integer ppm share, deterministic
    (count desc, key asc) ranking."""
    return f"""
WITH toks AS (
    SELECT unnest(list_transform({_TOKS}, t -> lower(t))) AS key FROM documents
),
counts AS (SELECT key, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY key),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
ranked AS (
    SELECT key, n, total,
           CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS rnk
    FROM counts, tot
)
SELECT key, n, total,
       (n * CAST(1000000 AS BIGINT)) // total AS share_ppm, rnk,
       ((n * CAST(1000000 AS BIGINT)) // total) >= {hot_ppm} AS hot
FROM ranked WHERE rnk <= {top_k}
"""


def txt_url_templates() -> str:
    """URL path-template twin (webtext.url_templates): digit runs in the
    parsed path collapse to 'N', per-(domain, template) aggregate."""
    return f"""
WITH {_url_parse_ctes()}
SELECT reg_domain,
       regexp_replace(path, '[0-9]+', 'N', 'g') AS path_template,
       CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS sample_doc_id
FROM parsed GROUP BY 1, 2
"""


def kg_tagger_agreement(model_a: str = "a100", model_b: str = "bbc") -> str:
    """Inter-tagger agreement twin (ops/kgtrain.tagger_agreement): the
    production BIO chain and the v1 ensemble chain joined on the token
    key, confusion counts + marginals + total as window sums over the
    bounded confusion matrix."""
    return f"""
WITH a AS ({kg_bio_tags(model_a)}),
b AS ({kg_ensemble_v1_tags(model_a, model_b)}),
conf AS (
    SELECT a.tag AS tag_a, b.tag AS tag_b, CAST(count(*) AS BIGINT) AS n_pair
    FROM a JOIN b USING (url, sent_idx, token_idx)
    GROUP BY 1, 2
)
SELECT tag_a, tag_b, n_pair,
       CAST(sum(n_pair) OVER (PARTITION BY tag_a) AS BIGINT) AS n_a,
       CAST(sum(n_pair) OVER (PARTITION BY tag_b) AS BIGINT) AS n_b,
       CAST(sum(n_pair) OVER () AS BIGINT) AS n_total
FROM conf
"""


def kg_type_priors(model: str = "a100") -> str:
    """Type-prior twin (er.type_prior_resolution over production typed
    mentions unioned with the deterministic ambiguity splice): majority
    type per multi-typed normalized surface, (n desc, type asc) ties."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    return (
        _kg_prefix(model)
        + f"""
, mentions_all AS (
    SELECT surface, pred_group FROM typed
    UNION ALL
    SELECT 'Amb' || CAST(doc_id % 5 AS VARCHAR) AS surface,
           CASE WHEN doc_id % 3 = 0 THEN 'PERSON'
                WHEN doc_id % 3 = 1 THEN 'LOCATION'
                ELSE 'ORG' END AS pred_group
    FROM documents
),
occ AS (
    SELECT {norm} AS norm_surface, pred_group AS etype FROM mentions_all
    WHERE pred_group <> 'OTHER'
),
per_type AS (
    SELECT norm_surface, etype, CAST(count(*) AS BIGINT) AS n
    FROM occ WHERE length(norm_surface) > 0
    GROUP BY norm_surface, etype
),
ranked AS (
    SELECT norm_surface, etype, n,
           CAST(row_number() OVER (PARTITION BY norm_surface
                                   ORDER BY n DESC, etype) AS BIGINT) AS rnk,
           CAST(count(*) OVER (PARTITION BY norm_surface) AS BIGINT) AS n_types,
           CAST(sum(n) OVER (PARTITION BY norm_surface) AS BIGINT) AS n_total
    FROM per_type
)
SELECT norm_surface, n_types, n_total, etype AS win_type, n AS n_win
FROM ranked WHERE rnk = 1 AND n_types >= 2
"""
    )


def txt_warc_records(docs_per_file: int = 10) -> str:
    """WET roundtrip twin (webtext.build_wet_files -> parse_wet_records):
    identical record synthesis (Content-Length in characters), split on
    the record header, Content-Length substring cut."""
    return f"""
WITH per AS (
    SELECT CAST(doc_id AS BIGINT) // {docs_per_file} AS file_id, doc_id,
           'WARC/1.0' || chr(10) ||
           'WARC-Target-URI: https://crawl.example/doc/' ||
           CAST(doc_id AS VARCHAR) || chr(10) ||
           'Content-Length: ' || CAST(length(text) AS VARCHAR) ||
           chr(10) || chr(10) || text || chr(10) || chr(10) AS rec
    FROM documents
),
files AS (
    SELECT file_id, string_agg(rec, '' ORDER BY doc_id) AS blob
    FROM per GROUP BY file_id
),
sp AS (
    SELECT file_id, string_split(blob, 'WARC/1.0' || chr(10)) AS parts
    FROM files
),
recs AS (
    SELECT file_id, CAST(i - 2 AS BIGINT) AS record_idx, parts[i] AS rec
    FROM sp, UNNEST(generate_series(2, len(parts))) AS u(i)
)
SELECT file_id, record_idx,
       regexp_extract(rec, 'WARC-Target-URI: (\\S+)', 1) AS uri,
       CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
           AS content_length,
       substr(rec, strpos(rec, chr(10) || chr(10)) + 2,
              CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1) AS BIGINT))
           AS body
FROM recs
"""


def txt_robots_check() -> str:
    """Robots-decision twin (webtext.robots_rules + robots_allowed):
    same synthetic rule table (strlen(host) mod 7), longest prefix wins,
    Allow beats Disallow on equal length, unmatched defaults to allowed."""
    return f"""
WITH {_url_parse_ctes()},
hosts AS (SELECT DISTINCT host FROM parsed),
rules AS (
    SELECT host, '/' AS prefix, TRUE AS allow FROM hosts
    UNION ALL
    SELECT host, '/cat' || CAST(length(host) % 7 AS VARCHAR) || '/', FALSE
    FROM hosts
    UNION ALL
    SELECT host, '/cat' || CAST(length(host) % 7 AS VARCHAR) || '/page-1', TRUE
    FROM hosts
),
m AS (
    SELECT p.doc_id, p.host, p.path, r.prefix, r.allow,
           row_number() OVER (PARTITION BY p.doc_id
                              ORDER BY length(r.prefix) DESC, r.allow DESC)
               AS rnk
    FROM parsed p JOIN rules r ON p.host = r.host
    WHERE substr(p.path, 1, length(r.prefix)) = r.prefix
)
SELECT p.doc_id, p.host, p.path,
       COALESCE(b.prefix, '') AS match_prefix,
       COALESCE(b.allow, TRUE) AS allowed
FROM parsed p LEFT JOIN (SELECT * FROM m WHERE rnk = 1) b
  ON p.doc_id = b.doc_id
"""


def rel_snapshot_expiry(keep_last: int = 5) -> str:
    """Snapshot-retention twin (ops/layout.snapshot_expiry): keep-last-N
    by snap_id desc + per-day first snapshot."""
    return f"""
WITH snaps AS (
    SELECT CAST(doc_id AS BIGINT) AS snap_id,
           CAST(doc_id AS BIGINT) // 10 AS day
    FROM documents
),
flagged AS (
    SELECT snap_id, day,
           row_number() OVER (ORDER BY snap_id DESC) <= {keep_last} AS keep_last,
           snap_id = min(snap_id) OVER (PARTITION BY day) AS keep_daily
    FROM snaps
)
SELECT snap_id, day, keep_last, keep_daily,
       NOT (keep_last OR keep_daily) AS expire
FROM flagged
"""


def mm_audio_windows(win: int = 16000, hop: int = 8000) -> str:
    """Audio window-plan twin (multimodal.audio_windows): strlen-derived
    n_samples, generate_series starts, window_idx = start intdiv hop."""
    return f"""
WITH meta AS (
    SELECT doc_id,
           CAST((strlen(text) * 131) % 160000 + 8000 AS BIGINT) AS n_samples,
           CAST(16000 AS BIGINT) AS sample_rate
    FROM documents
)
SELECT doc_id, n_samples, sample_rate,
       CAST(s // {hop} AS BIGINT) AS window_idx,
       CAST(s AS BIGINT) AS start_sample,
       CAST(s + {win} AS BIGINT) AS end_sample
FROM meta, UNNEST(generate_series(0, n_samples - {win}, {hop})) AS u(s)
WHERE n_samples >= {win}
"""


def kg_bfs_dist(model: str = "a100", rounds: int = 3, n_seeds: int = 3) -> str:
    """Multi-source BFS twin (er.bfs_distances): symmetrized adjacency,
    top-degree seeds ((deg desc, key asc) ties), ``rounds`` unrolled
    min-relaxations."""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
seeds AS (
    SELECT src FROM (
        SELECT src, row_number() OVER (ORDER BY deg DESC, src) AS rnk FROM deg
    ) WHERE rnk <= {n_seeds}
),
d0 AS (SELECT src AS k, CAST(0 AS BIGINT) AS dist FROM seeds)"""
    prev = "d0"
    for i in range(1, rounds + 1):
        body += f""",
d{i} AS (
    SELECT k, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT k, dist FROM {prev}
        UNION ALL
        SELECT s.dst AS k, d.dist + 1 AS dist
        FROM sym s JOIN {prev} d ON s.src = d.k
    ) GROUP BY k
)"""
        prev = f"d{i}"
    body += f"""
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype, dist
FROM {prev}
"""
    return _materialize(body, "sym", *[f"d{i}" for i in range(rounds)])


def kg_asof_snapshot(day: int, model: str = "a100", gap_days: int = 7) -> str:
    """As-of twin (triples.facts_asof over the SCD2 interval table)."""
    return f"""
WITH iv AS ({kg_fact_intervals(model, gap_days)})
SELECT * FROM iv WHERE valid_from_day <= {day} AND valid_to_day >= {day}
"""


def kg_quotations() -> str:
    """Quotation-attribution twin (triples.extract_quotations over real
    sentences + the deterministic reporting-frame splice)."""
    from unsupervised_ner_spark.pipeline import triples as T

    return f"""
WITH {SENTS_CTE.strip().rstrip(',')}
, splice AS (
    SELECT CAST(doc_id AS VARCHAR) AS url, CAST(9001 AS BIGINT) AS sent_idx,
           CASE WHEN doc_id % 2 = 0
                THEN '"claim ' || CAST(doc_id AS VARCHAR) || '," said ' ||
                     (['Alice', 'Bob Marley', 'Carol', 'Dan'])[(doc_id % 4) + 1]
                     || '.'
                ELSE (['Alice', 'Bob Marley', 'Carol', 'Dan'])[(doc_id % 4) + 1]
                     || ' said, "claim ' || CAST(doc_id AS VARCHAR) || '."'
           END AS sent
    FROM documents
),
allsents AS (
    SELECT url, CAST(sent_idx AS BIGINT) AS sent_idx, sent FROM sents
    UNION ALL
    SELECT url, sent_idx, sent FROM splice
),
ex AS (
    SELECT url, sent_idx,
           regexp_extract(sent, '{T.QUOTE_RE}', 1) AS quote,
           regexp_extract(sent, '{T.SPEAKER_POST_RE}', 1) AS post,
           regexp_extract(sent, '{T.SPEAKER_PRE_RE}', 1) AS pre
    FROM allsents
)
SELECT url, sent_idx,
       CASE WHEN post <> '' THEN post ELSE pre END AS speaker, quote
FROM ex
WHERE quote <> '' AND (CASE WHEN post <> '' THEN post ELSE pre END) <> ''
"""


def rel_profile(cols: tuple[str, ...] = ("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus")) -> str:
    """Column-profile twin (curation.column_profile over lineitem)."""
    aggs = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in cols:
        aggs += [
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS {c}__nn",
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS {c}__nd",
            f"CAST(min({c}) AS VARCHAR) AS {c}__mn",
            f"CAST(max({c}) AS VARCHAR) AS {c}__mx",
        ]
    one = "SELECT " + ", ".join(aggs) + " FROM lineitem"
    branches = [
        f"SELECT '{c}' AS col_name, n_rows, {c}__nn AS n_null, {c}__nd AS n_distinct, "
        f"{c}__mn AS min_s, {c}__mx AS max_s FROM one"
        for c in cols
    ]
    return "WITH one AS (" + one + ")\n" + "\nUNION ALL\n".join(branches)


def mm_video_scenes(
    hamming_threshold: int = 10, chunk_bytes: int = 256, every_k: int = 4
) -> str:
    """Scene-segmentation twin (multimodal.scene_segments over
    frame_sample): 32-bit hash-prefix signature, lag + bit_count(xor)
    boundary, running-sum scene numbering, one aggregate."""
    sig = _hex8_int_sql("frame_md5")
    return f"""
WITH fr AS ({mm_frames(chunk_bytes, every_k)}),
s AS (SELECT doc_id, frame_idx, {sig} AS sig FROM fr),
m AS (
    SELECT doc_id, frame_idx, sig,
           lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
    FROM s
),
b AS (
    SELECT doc_id, frame_idx,
           CASE WHEN prev IS NULL
                     OR bit_count(xor(sig, prev)) >= {hamming_threshold}
                THEN 1 ELSE 0 END AS boundary
    FROM m
),
sc AS (
    SELECT doc_id, frame_idx,
           sum(boundary) OVER (PARTITION BY doc_id ORDER BY frame_idx
                               ROWS UNBOUNDED PRECEDING) - 1 AS scene_id
    FROM b
)
SELECT doc_id, CAST(scene_id AS BIGINT) AS scene_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(min(frame_idx) AS BIGINT) AS first_frame,
       CAST(max(frame_idx) AS BIGINT) AS last_frame
FROM sc GROUP BY doc_id, scene_id
"""


def rel_zone_map(
    t_lo: int, t_hi: int, h_lo: int, h_hi: int,
    bits: int = 10, cell_shift: int = 10,
) -> str:
    """Zone-map twin (ops/layout.zone_map over rel_zorder cells)."""
    return f"""
WITH z AS ({rel_zorder(bits, cell_shift)})
SELECT zcell,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(dim_t) AS BIGINT) AS min_t,
       CAST(max(dim_t) AS BIGINT) AS max_t,
       CAST(min(dim_h) AS BIGINT) AS min_h,
       CAST(max(dim_h) AS BIGINT) AS max_h,
       NOT (max(dim_t) < {t_lo} OR min(dim_t) > {t_hi}
            OR max(dim_h) < {h_lo} OR min(dim_h) > {h_hi}) AS overlaps
FROM z GROUP BY zcell
"""


def kg_doc_cooccurrence(model: str = "a100") -> str:
    """Document-level co-occurrence twin (er.doc_cooccurrence_edges):
    distinct per-document normalized entities, lexicographic pair
    ordering, per-pair document counts."""
    return _materialize(
        _kg_prefix(model)
        + """
, ent AS (
    SELECT DISTINCT url,
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS ent,
           pred_group AS etype
    FROM typed WHERE pred_group <> 'OTHER'
),
ent2 AS (
    SELECT * FROM ent WHERE length(ent) > 0
),
cpairs AS (
    SELECT a.url, a.ent AS ent_a, a.etype AS type_a,
           b.ent AS ent_b, b.etype AS type_b
    FROM ent2 a JOIN ent2 b
      ON a.url = b.url
     AND (a.ent || '|' || a.etype) < (b.ent || '|' || b.etype)
)
SELECT ent_a, type_a, ent_b, type_b,
       CAST(count(*) AS BIGINT) AS n_docs
FROM cpairs GROUP BY ent_a, type_a, ent_b, type_b
""",
        "ent2",
    )


def txt_vocab_coverage(ks: tuple[int, ...] = (100, 1000, 4000)) -> str:
    """Vocab-coverage twin (ops/textstats.vocab_coverage): ranked vocab
    running token mass, per-k covered fraction in scaled ppm."""
    picks = "\nUNION ALL\n".join(
        f"SELECT CAST({int(k)} AS BIGINT) AS k, "
        f"(SELECT COALESCE(CAST(max(cum_tf) AS BIGINT), 0) FROM ranked WHERE rnk <= {int(k)}) "
        f"AS covered_tokens"
        for k in ks
    )
    return _materialize(
        f"""
WITH toks AS (
    SELECT unnest(list_transform({_TOKS}, t -> lower(t))) AS tok FROM documents
),
vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY tok),
ranked AS (
    SELECT tf,
           CAST(row_number() OVER (ORDER BY tf DESC, tok) AS BIGINT) AS rnk,
           CAST(sum(tf) OVER (ORDER BY tf DESC, tok
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tf
    FROM vocab
),
tot AS (
    SELECT CAST(max(rnk) AS BIGINT) AS n_types_total,
           CAST(max(cum_tf) AS BIGINT) AS total_tokens
    FROM ranked
),
picks AS ({picks})
SELECT k, n_types_total, covered_tokens, total_tokens,
       (covered_tokens * CAST(1000000 AS BIGINT)) // total_tokens AS coverage_ppm
FROM picks, tot
""",
        "ranked",
    )


def er_anchor_aliases(model: str = "a100", min_mentions: int = 5) -> str:
    """Anchor-alias twin (er.anchor_entity_aliases): real anchor-text
    stats UNION the kb-style splice (one anchor per entity node with
    n_mentions >= min_mentions, text = canonical surface) joined onto the
    exact-canonical nodes on the shared normalized surface."""
    anchors = txt_anchor_texts()
    nodes = er_exact_canonical(model)
    return _materialize(
        f"""
WITH rast AS ({anchors}),
nodes AS ({nodes}),
ast AS (
    SELECT link_url, anchor_norm, CAST(n_anchors AS BIGINT) AS n_anchors,
           CAST(n_pages AS BIGINT) AS n_pages
    FROM rast
    UNION ALL
    SELECT 'https://kb.example/' || norm_surface, canonical_surface,
           CAST(1 AS BIGINT), CAST(1 AS BIGINT)
    FROM nodes WHERE n_mentions >= {min_mentions}
),
al AS (
    SELECT trim(regexp_replace(regexp_replace(lower(anchor_norm), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface,
           link_url, n_anchors, n_pages
    FROM ast
)
SELECT a.norm_surface, n.etype, n.node_id, a.link_url, a.n_anchors, a.n_pages
FROM al a JOIN nodes n ON a.norm_surface = n.norm_surface
WHERE length(a.norm_surface) > 0
""",
        "nodes",
    )


def kg_taxonomy_closure(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Capped min-hop transitive-closure twin (pipeline/taxonomy.py
    taxonomy_closure): the engine's iterative min-plus doubling and this
    depth-capped RECURSIVE CTE both compute the shortest is-a walk length
    <= max_hops over the self-loop-free distinct edge set, so min(hops)
    agrees exactly (doubling round r covers every shortest walk of length
    <= 2^r)."""
    inner = kg_hearst_hypernyms(mod, hypo_terms, hyper_terms, hyper2_terms)
    return _materialize(
        f"""
WITH RECURSIVE hh AS ({inner}),
e AS (SELECT DISTINCT hypo, hyper FROM hh WHERE hypo <> hyper),
reach AS (
    SELECT hypo, hyper, 1 AS hops FROM e
    UNION
    SELECT r.hypo, e.hyper, r.hops + 1
    FROM reach r JOIN e ON e.hypo = r.hyper
    WHERE r.hops < {max_hops}
)
SELECT hypo, hyper, CAST(min(hops) AS BIGINT) AS hops
FROM reach WHERE hypo <> hyper GROUP BY hypo, hyper
""",
        "e",
    )


def kg_transitive_reduction(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Transitive-reduction twin (pipeline/taxonomy.py
    transitive_reduction): an edge is redundant when the capped closure
    holds a 2-segment witness path around it; the closure recursion is
    identical to kg_taxonomy_closure."""
    inner = kg_hearst_hypernyms(mod, hypo_terms, hyper_terms, hyper2_terms)
    return _materialize(
        f"""
WITH RECURSIVE hh AS ({inner}),
e AS (
    SELECT hypo, hyper, CAST(sum(n_sents) AS BIGINT) AS n
    FROM hh GROUP BY hypo, hyper HAVING hypo <> hyper
),
ed AS (SELECT DISTINCT hypo, hyper FROM e),
reach AS (
    SELECT hypo, hyper, 1 AS hops FROM ed
    UNION
    SELECT r.hypo, d.hyper, r.hops + 1
    FROM reach r JOIN ed d ON d.hypo = r.hyper
    WHERE r.hops < {max_hops}
),
clo AS (
    SELECT hypo, hyper FROM reach WHERE hypo <> hyper GROUP BY hypo, hyper
),
wit AS (
    SELECT DISTINCT a.hypo, b.hyper
    FROM clo a JOIN clo b ON a.hyper = b.hypo
)
SELECT e.hypo, e.hyper, e.n,
       CAST(CASE WHEN w.hypo IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS redundant
FROM e LEFT JOIN wit w ON w.hypo = e.hypo AND w.hyper = e.hyper
""",
        "e", "ed", "clo",
    )


def kg_assortativity(model: str = "a100") -> str:
    """Degree-assortativity sufficient-statistics twin (pipeline/er.py
    degree_assortativity): symmetrized edge list, node degrees joined onto
    both endpoints, one global integer aggregate plus the exact Newman-r
    numerator / squared-denominator factors."""
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)}),
sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst
    FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
j AS (
    SELECT dx.deg AS dx, dy.deg AS dy
    FROM sym s
    JOIN deg dx ON dx.src = s.src
    JOIN deg dy ON dy.src = s.dst
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS m2,
           CAST(sum(dx) AS BIGINT) AS sum_x,
           CAST(sum(dy) AS BIGINT) AS sum_y,
           CAST(sum(dx * dy) AS BIGINT) AS sum_xy,
           CAST(sum(dx * dx) AS BIGINT) AS sum_x2,
           CAST(sum(dy * dy) AS BIGINT) AS sum_y2
    FROM j
)
SELECT *,
       CAST(m2 * sum_xy - sum_x * sum_y AS BIGINT) AS r_num,
       CAST(m2 * sum_x2 - sum_x * sum_x AS BIGINT) AS r_den_x,
       CAST(m2 * sum_y2 - sum_y * sum_y AS BIGINT) AS r_den_y
FROM s
""",
        "sym", "deg",
    )


def kg_dangling_refs(model: str = "a100") -> str:
    """Dangling-object twin (pipeline/triples.py dangling_objects): typed
    objects never appearing as a subject, with inbound support counts —
    both sides entity-granular before the anti-join."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
subj AS (SELECT DISTINCT subj, subj_type FROM trip),
ob AS (
    SELECT obj, obj_type,
           CAST(count(*) AS BIGINT) AS n_triples,
           CAST(count(DISTINCT url) AS BIGINT) AS n_docs
    FROM trip GROUP BY obj, obj_type
)
SELECT o.obj, o.obj_type, o.n_triples, o.n_docs
FROM ob o
WHERE NOT EXISTS (
    SELECT 1 FROM subj s
    WHERE s.subj = o.obj AND s.subj_type = o.obj_type
)
""",
        "trip",
    )


def rel_grouping_sets() -> str:
    """GROUPING SETS twin (q_rel_grouping_sets): the explicit
    ((flag, status), (flag), ()) lattice with GROUPING(a, b) — the same
    MSB-first bit order as Spark's grouping_id (rel_cube precedent)."""
    return """
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def mm_phash(source: str = "documents") -> str:
    """Perceptual-DCT-hash twin (ops/multimodal.py perceptual_hash): 8x8
    byte-sampled grid, exact fixed-point integer DCT-II with the SAME
    PHASH_DCT basis constants (imported — the Hearst-regex precedent),
    median threshold at sorted AC index 31 (strict >), DC bit pinned 0.
    Pure integer arithmetic end-to-end, so the match is bit-exact.
    ``source`` lets the pairs gate feed a spliced corpus through the
    same chain (the mm_ahash precedent)."""
    from unsupervised_ner_spark.ops.multimodal import PHASH_DCT

    carr = "[" + ", ".join(str(c) for c in PHASH_DCT) + "]"
    hv = "(strpos('0123456789ABCDEF', {c}) - 1)"
    c1 = hv.format(c="substring(phex, ((j * n) // 64) * 2 + 1, 1)")
    c2 = hv.format(c="substring(phex, ((j * n) // 64) * 2 + 2, 1)")
    return _materialize(
        f"""
WITH m AS (
    SELECT doc_id, upper(hex(encode(text))) AS phex,
           octet_length(encode(text)) AS n
    FROM {source}
),
px AS (
    SELECT doc_id, n, j,
           CASE WHEN n = 0 THEN 0 ELSE 16 * {c1} + {c2} END AS p
    FROM m, UNNEST(generate_series(0, 63)) AS u(j)
),
co AS (
    SELECT doc_id, CAST(any_value(n) AS BIGINT) AS n, uv.uv AS uv,
           sum(p * ({carr})[(uv.uv // 8) * 8 + (j // 8) + 1]
                 * ({carr})[(uv.uv % 8) * 8 + (j % 8) + 1]) AS coef
    FROM px, UNNEST(generate_series(0, 63)) AS uv(uv)
    GROUP BY doc_id, uv.uv
),
md AS (
    SELECT doc_id, list_sort(list(coef) FILTER (uv > 0))[32] AS med
    FROM co GROUP BY doc_id
)
SELECT co.doc_id, CAST(any_value(co.n) AS BIGINT) AS n_bytes,
       string_agg(CASE WHEN co.uv = 0 THEN '0'
                       WHEN co.coef > md.med THEN '1' ELSE '0' END, ''
                  ORDER BY co.uv) AS phash_bits,
       CAST(sum(CASE WHEN co.uv > 0 AND co.coef > md.med THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ones
FROM co JOIN md USING (doc_id)
GROUP BY co.doc_id
""",
        "px", "co",
    )


def txt_filter_funnel() -> str:
    """Filter-funnel twin (ops/curation.py filter_funnel): the identical
    ordered first-kill CASE over the doc_stats integers, histogram, and a
    running remaining-count window over the bounded rule table."""
    return f"""
WITH st AS ({txt_stats()}),
killed AS (
    SELECT CASE
        WHEN n_tokens < 40 THEN 'too_short'
        WHEN n_stopword_tokens * 100 < n_tokens * 3 THEN 'low_stopword'
        WHEN n_distinct_tokens * 100 < n_tokens * 40 THEN 'low_lexdiv'
        WHEN n_punct_chars * 10 > n_chars THEN 'high_punct'
        WHEN n_chars > n_tokens * 12 THEN 'long_words'
        ELSE 'survivors' END AS rule
    FROM st
),
hist AS (
    SELECT rule, CAST(count(*) AS BIGINT) AS n,
           CASE rule
               WHEN 'too_short' THEN 0 WHEN 'low_stopword' THEN 1
               WHEN 'low_lexdiv' THEN 2 WHEN 'high_punct' THEN 3
               WHEN 'long_words' THEN 4 ELSE 5 END AS stage
    FROM killed GROUP BY rule
)
SELECT CAST(stage AS BIGINT) AS stage, rule,
       CAST(CASE WHEN rule = 'survivors' THEN 0 ELSE n END AS BIGINT)
           AS n_killed,
       CAST(sum(n) OVER ()
            - sum(CASE WHEN rule = 'survivors' THEN 0 ELSE n END)
                  OVER (ORDER BY stage ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS n_remaining
FROM hist
"""


def rel_quantiles() -> str:
    """Exact discrete per-group quantile twin (q_rel_quantiles): the same
    rank-at-ceil(n*p/100) row_number rule — ties in qty are rank-order
    irrelevant because the selected VALUE at any rank is deterministic."""
    qsel = (
        "CAST(max(CASE WHEN rn = (n * {p} + 99) // 100 THEN qty END)"
        " AS BIGINT) AS q{p}"
    )
    return f"""
WITH li AS (
    SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem
),
r AS (
    SELECT l_returnflag, qty,
           row_number() OVER (PARTITION BY l_returnflag ORDER BY qty) AS rn,
           count(*) OVER (PARTITION BY l_returnflag) AS n
    FROM li
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       {qsel.format(p=25)}, {qsel.format(p=50)}, {qsel.format(p=75)}
FROM r GROUP BY l_returnflag
"""


def kg_taxonomy_rollup(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Taxonomy rollup twin (q_kg_taxonomy_rollup): per-hypernym
    descendant/child/depth aggregate over the same capped recursive
    closure as kg_taxonomy_closure."""
    inner = kg_taxonomy_closure(
        mod, hypo_terms, hyper_terms, hyper2_terms, max_hops
    )
    return f"""
WITH clo AS ({inner})
SELECT hyper,
       CAST(count(DISTINCT hypo) AS BIGINT) AS n_descendants,
       CAST(sum(CASE WHEN hops = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_children,
       CAST(min(hops) AS BIGINT) AS min_hops,
       CAST(max(hops) AS BIGINT) AS max_hops
FROM clo GROUP BY hyper
"""


def rel_interval_join(iv_len_us: int = 1_800_000_000) -> str:
    """Point-in-interval join twin (ops/asof.py interval_join / the
    rel_interval_join gate): clicks contained in [view_ts, view_ts +
    iv_len) — DuckDB plans the raw theta join directly (IEJoin), so the
    oracle needs no binning; the engine's bucket-binned equi-join must
    produce the identical containment set."""
    return f"""
WITH c AS (
    SELECT event_id AS click_id, epoch_us(ts) AS p
    FROM events WHERE event_type = 'click'
),
v AS (
    SELECT event_id AS iv_view_id, epoch_us(ts) AS s,
           epoch_us(ts) + {iv_len_us} AS e
    FROM events WHERE event_type = 'view'
)
SELECT c.click_id, v.iv_view_id,
       CAST(c.p - v.s AS BIGINT) AS us_into_interval
FROM c JOIN v ON v.s <= c.p AND c.p < v.e
"""


def kg_closure_delta(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Incremental-closure twin: the oracle is the FULL recompute over
    the merged edge set (kg_taxonomy_closure on all docs) — hashing the
    engine's incremental fold against it IS the incremental==full proof
    (the kg_cooccurrence_delta / er_components_delta pattern)."""
    return kg_taxonomy_closure(
        mod, hypo_terms, hyper_terms, hyper2_terms, max_hops
    )


def mm_phash_pairs(
    every: int = 25, max_hamming: int = 7, max_bucket: int = 100
) -> str:
    """pHash near-pair twin (ops/multimodal.py phash_pairs): the oracle
    REPLAYS the Manku block-blocking + bucket cap (candidates = pairs
    sharing an uncapped (blk, bits) bucket — the LSH-oracle precedent:
    blocking is part of the operator's semantics, not an approximation
    to hide), then the 64-position Hamming verify. Splices: every
    ``every``-th doc re-enters byte-identical at +1000000 (Hamming 0)
    and with its first byte replaced by 'Z' at +2000000 (same length, so
    the sample grid aligns — a small nonzero Hamming both engines must
    agree on)."""
    sig = mm_phash(source="spliced")
    return _materialize(
        f"""
WITH spliced AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % {every} = 0
    UNION ALL
    SELECT doc_id + 2000000, 'Z' || substring(text, 2)
    FROM documents WHERE doc_id % {every} = 0
),
sig AS ({sig}),
bl AS (
    SELECT doc_id, phash_bits, b.blk AS blk,
           substring(phash_bits, b.blk * 8 + 1, 8) AS bits
    FROM sig, UNNEST(generate_series(0, 7)) AS b(blk)
),
ok AS (
    SELECT blk, bits FROM bl GROUP BY blk, bits
    HAVING count(*) <= {max_bucket}
),
sm AS (SELECT bl.* FROM bl JOIN ok USING (blk, bits)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.phash_bits AS sig_a, b.phash_bits AS sig_b
    FROM sm a JOIN sm b ON a.blk = b.blk AND a.bits = b.bits
    WHERE a.doc_id < b.doc_id
),
ham AS (
    SELECT doc_a, doc_b,
           CAST(list_sum(list_transform(range(1, 65), j ->
               CASE WHEN substring(sig_a, j, 1) <> substring(sig_b, j, 1)
                    THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
    FROM cand
)
SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= {max_hamming}
""",
        "sig", "bl", "sm",
    )


_RULE_SPLICE_SQL = """
splice AS (
    SELECT 'e' || lpad(CAST((doc_id // 5) % 12 AS VARCHAR), 2, '0') AS subj,
           (['knows','trusts','likes','reaches','near'])
               [CAST(doc_id % 5 AS INT) + 1] AS pred_norm,
           'e' || lpad(CAST(((doc_id // 5) % 12
                             + ([1,1,11,2,4])[CAST(doc_id % 5 AS INT) + 1]) % 12
                       AS VARCHAR), 2, '0') AS obj
    FROM documents
)"""


def kg_rule_mining(model: str = "a100") -> str:
    """2-atom Horn-rule twin (pipeline/triples.mine_rules): distinct fact
    table (MATERIALIZED — both self-join sides + the predicate marginal),
    (x,y)-keyed fwd join (p <> q) and reversed inv join (reflexive facts
    excluded, p == q allowed = symmetry detection), integer-ppm
    confidence. Over production triples UNION the rule splice
    (__spark_entry__._rule_splice_triples — zero natural co-predicated
    pairs, measured)."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
{_RULE_SPLICE_SQL.strip()},
facts AS (
    SELECT DISTINCT subj, pred_norm, obj FROM (
        SELECT subj, pred_norm, obj FROM trip
        UNION ALL SELECT subj, pred_norm, obj FROM splice
    )
),
np AS (
    SELECT pred_norm AS p, CAST(count(*) AS BIGINT) AS n_p
    FROM facts GROUP BY pred_norm
),
fwd AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'fwd' AS direction
    FROM facts a JOIN facts b ON a.subj = b.subj AND a.obj = b.obj
    WHERE a.pred_norm <> b.pred_norm
    GROUP BY a.pred_norm, b.pred_norm
),
inv AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'inv' AS direction
    FROM facts a JOIN facts b ON a.subj = b.obj AND a.obj = b.subj
    WHERE a.subj <> a.obj
    GROUP BY a.pred_norm, b.pred_norm
),
u AS (SELECT * FROM fwd UNION ALL SELECT * FROM inv)
SELECT u.p, u.q, u.direction, u.n_joint, np.n_p,
       CAST(u.n_joint * 1000000 // np.n_p AS BIGINT) AS conf_ppm
FROM u JOIN np ON np.p = u.p
""",
        "facts",
    )


def kg_chain_rules(model: str = "a100") -> str:
    """Chain-rule twin (pipeline/triples.mine_chain_rules): mids capped
    on BOTH in- and out-degree with the shared exact icbrt clamp, body
    collapsed to distinct (p1,p2,x,y) before the (x,y)-keyed head join."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c "
        "FROM facts))"
    )
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
{_RULE_SPLICE_SQL.strip()},
facts AS (
    SELECT DISTINCT subj, pred_norm, obj FROM (
        SELECT subj, pred_norm, obj FROM trip
        UNION ALL SELECT subj, pred_norm, obj FROM splice
    )
),
din AS (
    SELECT obj AS z FROM facts GROUP BY obj
    HAVING count(*) <= {cap}
),
dout AS (
    SELECT subj AS z FROM facts GROUP BY subj
    HAVING count(*) <= {cap}
),
mids AS (SELECT z FROM din JOIN dout USING (z)),
body AS (
    SELECT DISTINCT f1.pred_norm AS p1, f2.pred_norm AS p2,
           f1.subj AS x, f2.obj AS y
    FROM facts f1
    JOIN mids m ON f1.obj = m.z
    JOIN facts f2 ON f2.subj = f1.obj
    WHERE f1.subj <> f2.obj
),
nb AS (
    SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_body
    FROM body GROUP BY p1, p2
),
heads AS (
    SELECT b.p1, b.p2, f.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_head
    FROM body b JOIN facts f ON f.subj = b.x AND f.obj = b.y
    GROUP BY b.p1, b.p2, f.pred_norm
)
SELECT h.p1, h.p2, h.q, nb.n_body, h.n_head,
       CAST(h.n_head * 1000000 // nb.n_body AS BIGINT) AS conf_ppm
FROM heads h JOIN nb USING (p1, p2)
""",
        "facts", "body",
    )


def kg_triple_dataset(model: str = "a100", k: int = 2) -> str:
    """Triple-dataset twin (ops/kgtrain.triple_dataset): distinct
    positives + the kg_negative_samples chain with hits_true excluded,
    head-level (subj|pred_norm) md5-prefix split — thresholds shared with
    split_assign (3277/3687 of 4096)."""
    b = "substring(md5(subj || '|' || pred_norm), 1, 3)"
    split = (
        f"CASE WHEN {b} < '{3277:03x}' THEN 'train' "
        f"WHEN {b} < '{3687:03x}' THEN 'val' ELSE 'test' END"
    )
    return _materialize(
        f"""
WITH neg AS ({kg_negative_samples(model, k)}),
ptrip AS ({kg_triples(model)}),
pos AS (
    SELECT DISTINCT subj, subj_type, pred_norm, obj, obj_type FROM ptrip
),
u AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type,
           CAST(1 AS BIGINT) AS label, CAST(0 AS BIGINT) AS neg_k
    FROM pos
    UNION ALL
    SELECT subj, subj_type, pred_norm, neg_obj AS obj, obj_type,
           CAST(0 AS BIGINT) AS label, neg_k
    FROM neg WHERE hits_true = 0
)
SELECT subj, subj_type, pred_norm, obj, obj_type, label, neg_k,
       {split} AS split
FROM u
""",
        "ptrip",
    )


def er_phonetic_keys(model: str = "a100") -> str:
    """Phonetic blocking-key twin (pipeline/er.phonetic_blocking_keys):
    the identical engine-defined construction — translate with the
    shorter to-string deleting AEIOUYHW (PostgreSQL semantics in both
    engines), six run-collapse regexp_replaces, leading-code drop, rpad."""
    from unsupervised_ner_spark.pipeline.er import PHONETIC_FROM, PHONETIC_TO

    collapse = "translate(u, '{f}', '{t}')".format(f=PHONETIC_FROM, t=PHONETIC_TO)
    for digit in "123456":
        collapse = (
            f"regexp_replace({collapse}, '{digit}{digit}+', '{digit}', 'g')"
        )
    return (
        _kg_prefix(model)
        + f"""
, occ AS (
    SELECT DISTINCT
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface
    FROM typed WHERE pred_group <> 'OTHER'
),
ku AS (
    SELECT norm_surface,
           upper(regexp_replace(norm_surface, '[^A-Za-z]', '', 'g')) AS u
    FROM occ WHERE length(norm_surface) > 0
),
kd AS (
    SELECT norm_surface, u, substring(u, 1, 1) AS first,
           {collapse} AS d,
           translate(substring(u, 1, 1), '{PHONETIC_FROM}', '{PHONETIC_TO}')
               AS code_first
    FROM ku
),
keyed AS (
    SELECT norm_surface,
           first || rpad(substring(
               CASE WHEN code_first <> '' AND substring(d, 1, 1) = code_first
                    THEN substring(d, 2) ELSE d END, 1, 3), 3, '0') AS pkey
    FROM kd
)
SELECT pkey, CAST(count(*) AS BIGINT) AS n_surfaces,
       min(norm_surface) AS rep_surface
FROM keyed WHERE length(pkey) = 4
GROUP BY pkey
"""
    )


def er_phonetic_pairs(max_lev: int = 2, max_bucket: int = 100,
                      model: str = "a100") -> str:
    """Phonetic-pair twin (pipeline/er.phonetic_pairs): identical key
    construction as er_phonetic_keys, bucket cap replayed, classic
    Levenshtein verify (DuckDB levenshtein == Spark levenshtein)."""
    from unsupervised_ner_spark.pipeline.er import PHONETIC_FROM, PHONETIC_TO

    collapse = "translate(u, '{f}', '{t}')".format(f=PHONETIC_FROM, t=PHONETIC_TO)
    for digit in "123456":
        collapse = (
            f"regexp_replace({collapse}, '{digit}{digit}+', '{digit}', 'g')"
        )
    return (
        _kg_prefix(model)
        + f"""
, occ0 AS (
    SELECT DISTINCT
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface
    FROM typed WHERE pred_group <> 'OTHER'
),
occ AS (
    -- deterministic misspelling splice: first non-lead 'a' -> 'e' on
    -- surfaces >= 5 chars (vowels are soundex-deleted, so the variant
    -- shares the source pkey at Levenshtein 1). UNION = the distinct
    -- the engine applies over the spliced vocabulary.
    SELECT norm_surface FROM occ0
    UNION
    SELECT regexp_replace(norm_surface, '^(.[^a]*)a', '\\1e') AS norm_surface
    FROM occ0
    WHERE length(norm_surface) >= 5
      AND regexp_matches(norm_surface, '^.[^a]*a')
),
ku AS (
    SELECT norm_surface,
           upper(regexp_replace(norm_surface, '[^A-Za-z]', '', 'g')) AS u
    FROM occ WHERE length(norm_surface) > 0
),
kd AS (
    SELECT norm_surface, substring(u, 1, 1) AS first, {collapse} AS d,
           translate(substring(u, 1, 1), '{PHONETIC_FROM}', '{PHONETIC_TO}')
               AS code_first
    FROM ku
),
keyed AS (
    SELECT norm_surface,
           first || rpad(substring(
               CASE WHEN code_first <> '' AND substring(d, 1, 1) = code_first
                    THEN substring(d, 2) ELSE d END, 1, 3), 3, '0') AS pkey
    FROM kd
),
k4 AS (SELECT * FROM keyed WHERE length(pkey) = 4),
ok AS (SELECT pkey FROM k4 GROUP BY pkey HAVING count(*) <= {max_bucket}),
sm AS (SELECT k4.* FROM k4 JOIN ok USING (pkey))
SELECT a.pkey, a.norm_surface AS surf_a, b.norm_surface AS surf_b,
       CAST(levenshtein(a.norm_surface, b.norm_surface) AS BIGINT) AS lev
FROM sm a JOIN sm b ON a.pkey = b.pkey
WHERE a.norm_surface < b.norm_surface
  AND levenshtein(a.norm_surface, b.norm_surface) <= {max_lev}
"""
    )


def mm_voice_segments(
    chunk_bytes: int = 256, num: int = 95, den: int = 1
) -> str:
    """Voice-segment twin (ops/multimodal.py chunk_energy +
    voice_segments): per-chunk byte sums from the hex projection,
    integer threshold, gaps-and-islands runs, per-clip seg_idx."""
    hv = "(strpos('0123456789ABCDEF', {c}) - 1)"
    c1 = hv.format(c="substring(phex, i * 2 + 1, 1)")
    c2 = hv.format(c="substring(phex, i * 2 + 2, 1)")
    return _materialize(
        f"""
WITH m AS (
    SELECT doc_id, upper(hex(encode(text))) AS phex,
           octet_length(encode(text)) AS n
    FROM documents
),
by AS (
    SELECT doc_id, i, 16 * {c1} + {c2} AS v
    FROM m, UNNEST(generate_series(0, n - 1)) AS g(i)
    WHERE n > 0
),
en AS (
    SELECT doc_id, i // {chunk_bytes} AS chunk_idx,
           CAST(count(*) AS BIGINT) AS chunk_len,
           CAST(sum(v) AS BIGINT) AS energy_sum
    FROM by GROUP BY doc_id, i // {chunk_bytes}
),
voiced AS (
    SELECT *, chunk_idx - row_number() OVER (
        PARTITION BY doc_id ORDER BY chunk_idx) AS island
    FROM en WHERE energy_sum * {den} >= {num} * chunk_len
),
seg AS (
    SELECT doc_id, island,
           CAST(min(chunk_idx) AS BIGINT) AS start_chunk,
           CAST(max(chunk_idx) AS BIGINT) AS end_chunk,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(energy_sum) AS BIGINT) AS energy_total
    FROM voiced GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_chunk) - 1
            AS BIGINT) AS seg_idx,
       start_chunk, end_chunk, n_chunks, energy_total
FROM seg
""",
        "en",
    )


def kg_pronoun_coref(model: str = "a100") -> str:
    """Pronoun-coreference twin (pipeline/coref.resolve_pronouns): the
    doc_id-derived pronoun splice replayed, candidate generation as a
    back-distance VALUES join onto the typed CTE, identical type-
    agreement CASE and (back_dist, mention_idx DESC, surface) winner
    ordering."""
    return (
        _kg_prefix(model)
        + """
, pron AS (
    SELECT CAST(doc_id AS VARCHAR) AS url,
           CAST(v.s AS BIGINT) AS sent_idx,
           CAST(0 AS BIGINT) AS tok_idx,
           (['he', 'she', 'it', 'they'])[CAST(doc_id % 4 + 1 AS INT)]
               AS pronoun
    FROM documents, (VALUES (1), (3)) v(s)
),
cand AS (
    SELECT p.url, p.sent_idx, p.tok_idx, p.pronoun,
           CAST(d.b AS BIGINT) AS back_dist,
           t.sent_idx AS ant_sent_idx, t.mention_idx, t.surface,
           t.pred_group
    FROM pron p
    JOIN (VALUES (1), (2), (3)) d(b) ON p.sent_idx - d.b >= 0
    JOIN typed t ON t.url = p.url AND t.sent_idx = p.sent_idx - d.b
    WHERE t.pred_group <> 'OTHER'
      AND CASE
            WHEN p.pronoun IN ('he', 'she', 'him', 'her', 'his', 'hers')
              THEN t.pred_group = 'PERSON'
            WHEN p.pronoun IN ('it', 'its')
              THEN t.pred_group <> 'PERSON'
            ELSE TRUE
          END
),
best AS (
    SELECT *, row_number() OVER (
        PARTITION BY url, sent_idx, tok_idx
        ORDER BY back_dist ASC, mention_idx DESC, surface ASC,
                 pred_group ASC) AS rn
    FROM cand
)
SELECT url, sent_idx, tok_idx, pronoun, surface AS antecedent,
       pred_group AS antecedent_type,
       CAST(ant_sent_idx AS BIGINT) AS ant_sent_idx, back_dist
FROM best WHERE rn = 1
"""
    )


def kg_dates() -> str:
    """Temporal-expression twin (ops/webtext.extract_dates): the doc_id-
    derived date splice replayed, then both pattern families extracted
    with the ENGINE'S OWN regex constants (imported — the twins cannot
    drift) and normalized to the identical ISO string."""
    from unsupervised_ner_spark.ops.webtext import (
        ISO_DATE_RE,
        MONTHS,
        TEXT_DATE_RE,
    )

    months_sql = "[" + ", ".join(f"'{m}'" for m in MONTHS) + "]"
    return f"""
WITH dirty AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0 THEN
                ' released on ' || CAST(1900 + doc_id % 120 AS VARCHAR)
                || '-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')
                || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                || ' .'
              ELSE '' END
           || CASE WHEN doc_id % 4 = 0 THEN
                ' announced on '
                || {months_sql}[CAST(1 + doc_id % 12 AS INT)]
                || ' ' || CAST(1 + doc_id % 28 AS VARCHAR)
                || ', ' || CAST(1900 + doc_id % 120 AS VARCHAR) || ' .'
              ELSE '' END AS t
    FROM documents
),
tx AS (
    SELECT doc_id, m
    FROM dirty, UNNEST(regexp_extract_all(t, '{TEXT_DATE_RE}')) AS u(m)
)
SELECT doc_id, 'iso' AS kind, m AS date_iso, m AS raw
FROM dirty, UNNEST(regexp_extract_all(t, '{ISO_DATE_RE}')) AS u(m)
UNION ALL
SELECT doc_id, 'text' AS kind,
       regexp_extract(m, '{TEXT_DATE_RE}', 3) || '-'
       || lpad(CAST(list_position({months_sql},
                    regexp_extract(m, '{TEXT_DATE_RE}', 1)) AS VARCHAR),
               2, '0')
       || '-' || lpad(regexp_extract(m, '{TEXT_DATE_RE}', 2), 2, '0')
           AS date_iso,
       m AS raw
FROM tx
"""


def kg_clustering_coeff(model: str = "a100") -> str:
    """Clustering-coefficient twin (pipeline/er.clustering_coefficients):
    triangle corners off the kg_triangles node-iterator joins, degrees
    off the symmetrized aggregated edge table, integer sufficient
    statistics only (no float in the hashed columns)."""
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
tri AS (
    SELECT e1.ka AS a, e1.kb AS b, e2.kb AS c
    FROM ek e1
    JOIN ek e2 ON e2.ka = e1.kb
    JOIN ek e3 ON e3.ka = e1.ka AND e3.kb = e2.kb
),
corners AS (
    SELECT a AS k FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
),
ntri AS (SELECT k, CAST(count(*) AS BIGINT) AS n_tri FROM corners GROUP BY k),
deg AS (
    SELECT k, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT ka AS k FROM ek UNION ALL SELECT kb FROM ek)
    GROUP BY k
)
SELECT string_split(deg.k, '|')[1] AS ent,
       string_split(deg.k, '|')[2] AS etype,
       degree,
       COALESCE(n_tri, CAST(0 AS BIGINT)) AS n_tri,
       CAST(2 * COALESCE(n_tri, 0) AS BIGINT) AS coeff_num,
       CAST(degree * (degree - 1) AS BIGINT) AS coeff_den
FROM deg LEFT JOIN ntri ON ntri.k = deg.k
""",
        "ek",
    )


def txt_html_tables() -> str:
    """Table-extraction twin (ops/webtext.extract_tables): the table
    splice replayed, tables -> rows -> cells via nested
    regexp_extract_all + generate_series indexing, identical tag-strip
    and 2-cell drop. Regex constants imported from the engine module."""
    from unsupervised_ner_spark.ops.webtext import (
        CELL_RE,
        TABLE_RE,
        TAG_RE,
        TR_RE,
    )

    return f"""
WITH dirty AS (
    SELECT doc_id,
           text
           || '<table class="infobox"><tr><th>Name</th><td><b>Doc '
           || CAST(doc_id AS VARCHAR)
           || '</b></td></tr><tr><th>Lang</th><td>' || lang
           || '</td></tr><tr><td>orphan</td></tr></table>'
           || CASE WHEN doc_id % 2 = 0 THEN
                '<table><tr><td>k' || CAST(doc_id % 7 AS VARCHAR)
                || '</td><td>v' || CAST(doc_id % 5 AS VARCHAR)
                || '</td></tr></table>'
              ELSE '' END AS t
    FROM documents
),
tb0 AS (
    SELECT doc_id, regexp_extract_all(t, '{TABLE_RE}', 1) AS tbls FROM dirty
),
tb AS (
    SELECT doc_id, ti - 1 AS table_idx, tbls[CAST(ti AS INT)] AS tbl
    FROM tb0, UNNEST(generate_series(1, len(tbls))) AS g(ti)
),
rw0 AS (
    SELECT doc_id, table_idx, regexp_extract_all(tbl, '{TR_RE}', 1) AS rws
    FROM tb
),
rw AS (
    SELECT doc_id, table_idx, ri - 1 AS row_idx,
           rws[CAST(ri AS INT)] AS rowhtml
    FROM rw0, UNNEST(generate_series(1, len(rws))) AS g(ri)
),
cl AS (
    SELECT doc_id, table_idx, row_idx,
           regexp_extract_all(rowhtml, '{CELL_RE}', 1) AS cells
    FROM rw
)
SELECT doc_id,
       CAST(table_idx AS BIGINT) AS table_idx,
       CAST(row_idx AS BIGINT) AS row_idx,
       trim(regexp_replace(cells[1], '{TAG_RE}', '', 'g')) AS key,
       trim(regexp_replace(cells[2], '{TAG_RE}', '', 'g')) AS value,
       CAST(len(cells) AS BIGINT) AS n_cells
FROM cl WHERE len(cells) >= 2
"""


def kg_grounded_facts(model: str = "a100") -> str:
    """Grounded-facts twin: kg_triples joined to the per-doc MIN ISO
    date + count off the kg_dates chain (both composed as CTEs, the
    kg_predicates precedent)."""
    return f"""
WITH trip AS ({kg_triples(model)})
, dts AS ({kg_dates()})
, doc_date AS (
    SELECT doc_id, min(date_iso) AS doc_date,
           CAST(count(*) AS BIGINT) AS n_dates
    FROM dts GROUP BY doc_id
)
SELECT t.url, t.sent_idx, t.subj, t.subj_type, t.pred_norm,
       t.obj, t.obj_type, d.doc_date, d.n_dates
FROM trip t JOIN doc_date d ON t.url = CAST(d.doc_id AS VARCHAR)
"""


def kg_fact_certainty(model: str = "a100") -> str:
    """Certainty twin (pipeline/triples.fact_certainty): production
    triples UNION the doc_id-derived cue splice, identical CASE
    precedence (negated beats hedged) and alphabetically-smallest-cue
    selection via list_intersect + min aggregate. Cue lexicons imported
    from the engine module."""
    from unsupervised_ner_spark.pipeline.triples import HEDGE_CUES, NEG_CUES

    neg_sql = "[" + ", ".join(f"'{w}'" for w in NEG_CUES) + "]"
    hedge_sql = "[" + ", ".join(f"'{w}'" for w in HEDGE_CUES) + "]"
    return f"""
WITH trip AS ({kg_triples(model)})
, splice AS (
    SELECT CAST(doc_id AS VARCHAR) AS url,
           CAST(999 AS BIGINT) AS sent_idx,
           'drug' || CAST(doc_id % 24 AS VARCHAR) AS subj,
           'THERAPEUTIC_OR_PREVENTIVE_PROCEDURE' AS subj_type,
           (['not approved for', 'may treat', 'never causes',
             'possibly prevents', 'treats'])
               [CAST((doc_id // 6) % 5 + 1 AS INT)] AS pred_norm,
           'cond' || CAST(doc_id % 7 AS VARCHAR) AS obj,
           'DISEASE' AS obj_type
    FROM documents WHERE doc_id % 6 = 0
),
unioned AS (
    SELECT url, sent_idx, subj, subj_type, pred_norm, obj, obj_type
    FROM trip
    UNION ALL
    SELECT url, sent_idx, subj, subj_type, pred_norm, obj, obj_type
    FROM splice
),
cued AS (
    SELECT *,
           list_intersect(string_split(pred_norm, ' '), {neg_sql}) AS negs,
           list_intersect(string_split(pred_norm, ' '), {hedge_sql}) AS heds
    FROM unioned
)
SELECT url, sent_idx, subj, subj_type, pred_norm, obj, obj_type,
       CASE WHEN len(negs) > 0 THEN 'negated'
            WHEN len(heds) > 0 THEN 'hedged'
            ELSE 'asserted' END AS certainty,
       CASE WHEN len(negs) > 0 THEN list_aggregate(negs, 'min')
            WHEN len(heds) > 0 THEN list_aggregate(heds, 'min')
            ELSE '' END AS cue
FROM cued
"""


def kg_wl_colors(model: str = "a100", rounds: int = 2) -> str:
    """WL-refinement twin (pipeline/er.wl_colors): the symmetrized
    adjacency MATERIALIZED (it feeds every round twice), rounds unrolled
    as join + string_agg(ORDER BY color) + md5 — byte-identical to the
    engine's array_sort/concat_ws/md5 chain (colors are ASCII hex, so
    the sort orders agree)."""
    parts = [
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS k, ent_b || '|' || type_b AS nb FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b AS k, ent_a || '|' || type_a AS nb FROM eg
),
c0 AS (SELECT DISTINCT k, '0' AS color FROM sym)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
a{r} AS (
    SELECT s.k, string_agg(c.color, ',' ORDER BY c.color) AS sig
    FROM sym s JOIN c{r - 1} c ON c.k = s.nb GROUP BY s.k
),
c{r} AS (
    SELECT c.k, substring(md5(c.color || '|' || a.sig), 1, 8) AS color
    FROM c{r - 1} c JOIN a{r} a ON a.k = c.k
)"""
        )
    parts.append(
        f"""
SELECT string_split(k, '|')[1] AS ent,
       string_split(k, '|')[2] AS etype,
       color AS wl_color
FROM c{rounds}
"""
    )
    return _materialize("".join(parts), "sym")


def rel_skyline() -> str:
    """Skyline twin (ops/curation.skyline2d on orders): distinct points
    with counts, per-x min-y candidate, rows-to-1-preceding min sweep —
    the identical three bounded stages."""
    return """
WITH dims AS (
    SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS x,
           CAST(round(o_totalprice * 100) AS BIGINT) AS y
    FROM orders
),
pts AS (
    SELECT x, y, CAST(count(*) AS BIGINT) AS n_rows
    FROM dims GROUP BY 1, 2
),
cand AS (
    SELECT x, y, n_rows FROM (
        SELECT *, row_number() OVER (PARTITION BY x ORDER BY y) AS rn
        FROM pts
    ) WHERE rn = 1
),
sweep AS (
    SELECT x, y, n_rows,
           min(y) OVER (ORDER BY x ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS m
    FROM cand
)
SELECT x AS order_day, y AS cents, n_rows
FROM sweep WHERE m IS NULL OR y < m
"""


def kg_itemsets3(model: str = "a100", minsup: int = 2) -> str:
    """Apriori-3 twin (pipeline/er.frequent_itemsets3): the identical
    chain — per-sentence pairs, frequent-pair prune, third-entity
    extension, (kb, kc) sub-pair prune, sentence-support >= minsup.
    The event and pair tables are MATERIALIZED (each feeds multiple
    references)."""
    return _materialize(
        _kg_prefix(model)
        + f"""
, ent AS (
    SELECT DISTINCT url, sent_idx,
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS ent,
           pred_group AS etype
    FROM typed WHERE pred_group <> 'OTHER'
),
ek AS (
    -- real events UNION the deterministic trio splice (two overlapping
    -- trios + a doc-varying extraN whose extensions stay at support 1);
    -- DISTINCT = the engine's per-sentence entity dedup
    SELECT DISTINCT url, sent_idx, k FROM (
        SELECT url, sent_idx, ent || '|' || etype AS k
        FROM ent WHERE length(ent) > 0
        UNION ALL
        SELECT CAST(doc_id AS VARCHAR), CAST(999 AS BIGINT),
               e || '|SOFTWARE'
        FROM documents,
             UNNEST(['alpha', 'beta', 'gamma']) AS u(e)
        WHERE doc_id % 8 = 0
        UNION ALL
        SELECT CAST(doc_id AS VARCHAR), CAST(999 AS BIGINT),
               'extra' || CAST(doc_id % 97 AS VARCHAR) || '|SOFTWARE'
        FROM documents WHERE doc_id % 8 = 0
        UNION ALL
        SELECT CAST(doc_id AS VARCHAR), CAST(999 AS BIGINT),
               e || '|SOFTWARE'
        FROM documents,
             UNNEST(['alpha', 'beta', 'delta']) AS u(e)
        WHERE doc_id % 12 = 0
        UNION ALL
        SELECT CAST(doc_id AS VARCHAR), CAST(999 AS BIGINT),
               'extra' || CAST(doc_id % 97 AS VARCHAR) || '|SOFTWARE'
        FROM documents WHERE doc_id % 12 = 0
    )
),
p AS (
    SELECT a.url, a.sent_idx, a.k AS ka, b.k AS kb
    FROM ek a JOIN ek b
      ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.k < b.k
),
fp AS (
    SELECT ka, kb FROM p GROUP BY ka, kb HAVING count(*) >= {minsup}
),
pf AS (SELECT p.* FROM p JOIN fp USING (ka, kb)),
cand AS (
    SELECT pf.url, pf.sent_idx, pf.ka, pf.kb, c.k AS kc
    FROM pf JOIN ek c
      ON c.url = pf.url AND c.sent_idx = pf.sent_idx AND pf.kb < c.k
),
cand2 AS (
    SELECT cand.* FROM cand
    JOIN fp f2 ON f2.ka = cand.kb AND f2.kb = cand.kc
),
tri AS (
    SELECT ka, kb, kc, CAST(count(*) AS BIGINT) AS support
    FROM cand2 GROUP BY ka, kb, kc HAVING count(*) >= {minsup}
)
SELECT string_split(ka, '|')[1] AS ent_a, string_split(ka, '|')[2] AS type_a,
       string_split(kb, '|')[1] AS ent_b, string_split(kb, '|')[2] AS type_b,
       string_split(kc, '|')[1] AS ent_c, string_split(kc, '|')[2] AS type_c,
       support
FROM tri
""",
        "ek",
        "p",
        "fp",
    )


def kg_nominal_coref(model: str = "a100") -> str:
    """Nominal-coreference twin (pipeline/coref.resolve_definite_nps):
    the doc_id-derived definite-NP splice replayed, group-equality
    agreement, identical winner ordering."""
    return (
        _kg_prefix(model)
        + """
, np AS (
    SELECT CAST(doc_id AS VARCHAR) AS url,
           CAST(v.s AS BIGINT) AS sent_idx,
           CAST(0 AS BIGINT) AS tok_idx,
           (['THERAPEUTIC_OR_PREVENTIVE_PROCEDURE', 'DISEASE', 'MEASURE'])
               [CAST(doc_id % 3 + 1 AS INT)] AS np_group
    FROM documents, (VALUES (1), (2)) v(s)
),
cand AS (
    SELECT p.url, p.sent_idx, p.tok_idx, p.np_group,
           CAST(d.b AS BIGINT) AS back_dist,
           t.sent_idx AS ant_sent_idx, t.mention_idx, t.surface
    FROM np p
    JOIN (VALUES (1), (2), (3)) d(b) ON p.sent_idx - d.b >= 0
    JOIN typed t ON t.url = p.url AND t.sent_idx = p.sent_idx - d.b
    WHERE t.pred_group <> 'OTHER' AND t.pred_group = p.np_group
),
best AS (
    SELECT *, row_number() OVER (
        PARTITION BY url, sent_idx, tok_idx
        ORDER BY back_dist ASC, mention_idx DESC, surface ASC) AS rn
    FROM cand
)
SELECT url, sent_idx, tok_idx, np_group, surface AS antecedent,
       CAST(ant_sent_idx AS BIGINT) AS ant_sent_idx, back_dist
FROM best WHERE rn = 1
"""
    )


def kg_hits(
    model: str = "a100", rounds: int = 2, scale: int = 1_000_000
) -> str:
    """HITS twin (pipeline/er.py hits): distinct directed edges from the
    triple_support chain, ``rounds`` unrolled hub/authority half-steps
    with the SAME integer renormalization ``raw * scale // max(raw)`` —
    max and sum are order-free, so the scores are bit-exact across
    engines (the kg_pagerank precedent)."""
    body = f"""
WITH ts AS ({kg_triple_support(model)})
, dedges AS (SELECT DISTINCT subj_id AS src, obj_id AS dst FROM ts),
gnodes AS (SELECT src AS k FROM dedges UNION SELECT dst FROM dedges),
h0 AS (SELECT k, CAST({scale} AS BIGINT) AS v FROM gnodes)"""
    mat = ["dedges", "gnodes"]
    prev_h = "h0"
    for i in range(1, rounds + 1):
        body += f""",
araw{i} AS (
    SELECT n.k, CAST(coalesce(sum(h.v), 0) AS BIGINT) AS raw
    FROM gnodes n
    LEFT JOIN dedges e ON e.dst = n.k
    LEFT JOIN {prev_h} h ON h.k = e.src
    GROUP BY n.k
),
a{i} AS (
    SELECT k, CAST((raw * CAST({scale} AS BIGINT))
                   // (SELECT GREATEST(max(raw), 1) FROM araw{i})
              AS BIGINT) AS v
    FROM araw{i}
),
hraw{i} AS (
    SELECT n.k, CAST(coalesce(sum(a.v), 0) AS BIGINT) AS raw
    FROM gnodes n
    LEFT JOIN dedges e ON e.src = n.k
    LEFT JOIN a{i} a ON a.k = e.dst
    GROUP BY n.k
),
h{i} AS (
    SELECT k, CAST((raw * CAST({scale} AS BIGINT))
                   // (SELECT GREATEST(max(raw), 1) FROM hraw{i})
              AS BIGINT) AS v
    FROM hraw{i}
)"""
        mat += [f"araw{i}", f"a{i}", f"hraw{i}"]
        if i < rounds:
            mat.append(f"h{i}")
        prev_h = f"h{i}"
    body += f"""
SELECT n.k AS node_id, h.v AS hub_scaled, a.v AS auth_scaled
FROM gnodes n
JOIN h{rounds} h ON h.k = n.k
JOIN a{rounds} a ON a.k = n.k
"""
    return _materialize(body, *mat)


def kg_landmark_centrality(
    model: str = "a100", rounds: int = 3, n_seeds: int = 3,
    scale: int = 1_000_000,
) -> str:
    """Landmark-centrality twin (pipeline/er.py landmark_centrality):
    per-seed unrolled BFS (frontier keyed (seed, k), unlike the
    min-merged kg_bfs_dist) + the integer harmonic-closeness aggregate
    ``sum(scale // dist)``."""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
seeds AS (
    SELECT src, CAST(row_number() OVER (ORDER BY deg DESC, src) AS BIGINT)
           AS seed_rank
    FROM deg
    QUALIFY seed_rank <= {n_seeds}
),
d0 AS (SELECT src AS seed, src AS k, CAST(0 AS BIGINT) AS dist FROM seeds)"""
    prev = "d0"
    for i in range(1, rounds + 1):
        body += f""",
d{i} AS (
    SELECT seed, k, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT seed, k, dist FROM {prev}
        UNION ALL
        SELECT d.seed, s.dst AS k, d.dist + 1 AS dist
        FROM sym s JOIN {prev} d ON s.src = d.k
    ) GROUP BY seed, k
)"""
        prev = f"d{i}"
    body += f"""
, prof AS (
    SELECT seed,
           CAST(count(*) AS BIGINT) AS n_reached,
           CAST(sum(CAST({scale} AS BIGINT) // dist) AS BIGINT)
               AS harmonic_scaled,
           CAST(max(dist) AS BIGINT) AS ecc_bounded
    FROM {prev} WHERE dist > 0 GROUP BY seed
)
SELECT split_part(p.seed, '|', 1) AS ent, split_part(p.seed, '|', 2) AS etype,
       s.seed_rank, p.n_reached, p.harmonic_scaled, p.ecc_bounded
FROM prof p JOIN seeds s ON s.src = p.seed
"""
    return _materialize(
        body, "sym", "seeds", *[f"d{i}" for i in range(rounds)]
    )


def kg_relation_candidates(model: str = "a100") -> str:
    """Distant-supervision candidate twin (pipeline/triples.py
    relation_candidates): every ordered same-sentence pair of non-OTHER
    normalized mentions, left-joined against the KB aggregated from the
    triple stream (min pred_norm / distinct-pred count / evidence count)
    — 'NA' when the pair is unknown. Composes ONE _kg_prefix chain with
    the shared _triples_ctes body (no nested second prefix)."""
    norm = (
        "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', '', 'g'),"
        " '\\s+', ' ', 'g'))"
    )
    body = (
        _kg_prefix(model)
        + _triples_ctes()
        + f"""
, rcm AS (
    SELECT url, sent_idx, mention_idx, surface, pred_group AS etype,
           {norm.format(c='surface')} AS norm
    FROM typed WHERE pred_group <> 'OTHER'
),
rcm2 AS (
    SELECT *, row_number() OVER (PARTITION BY url, sent_idx
                                 ORDER BY mention_idx) AS rn
    FROM rcm WHERE length(norm) > 0
),
kb AS (
    SELECT norm_a, type_a, norm_b, type_b,
           min(pred_norm) AS kb_pred,
           CAST(count(DISTINCT pred_norm) AS BIGINT) AS n_kb_preds,
           CAST(count(*) AS BIGINT) AS kb_sents
    FROM (
        SELECT {norm.format(c='subj')} AS norm_a, subj_type AS type_a,
               {norm.format(c='obj')} AS norm_b, obj_type AS type_b,
               pred_norm
        FROM tripc
    ) WHERE length(norm_a) > 0 AND length(norm_b) > 0
    GROUP BY norm_a, type_a, norm_b, type_b
)
SELECT a.url, CAST(a.sent_idx AS BIGINT) AS sent_idx,
       CAST(a.mention_idx AS BIGINT) AS idx_a,
       CAST(b.mention_idx AS BIGINT) AS idx_b,
       a.surface AS surf_a, a.etype AS type_a,
       b.surface AS surf_b, b.etype AS type_b,
       CAST(CASE WHEN b.rn = a.rn + 1 THEN 1 ELSE 0 END AS BIGINT) AS adjacent,
       coalesce(kb.kb_pred, 'NA') AS silver_pred,
       CAST(coalesce(kb.n_kb_preds, 0) AS BIGINT) AS n_kb_preds,
       CAST(coalesce(kb.kb_sents, 0) AS BIGINT) AS kb_sents
FROM rcm2 a
JOIN rcm2 b ON a.url = b.url AND a.sent_idx = b.sent_idx AND a.rn < b.rn
LEFT JOIN kb ON kb.norm_a = a.norm AND kb.type_a = a.etype
            AND kb.norm_b = b.norm AND kb.type_b = b.etype
"""
    )
    return _materialize(body, "rcm2", "kb")


def kg_kge_eval(
    model: str = "a100", dim: int = 4, emb_mod: int = 1000,
    score_fn: str = "transe",
) -> str:
    """KGE filtered-ranking twin (ops/kgtrain.py kge_eval): deterministic
    hash embeddings (_hex8_int_sql nibble arithmetic == md5_int32),
    type-blocked candidates, filtered truth removal, (dist asc, c asc)
    row_number rank, per-predicate integer sufficient statistics.
    ``score_fn``: "transe" (L1, asc), "distmult" (negated bilinear
    product so the same ascending rank serves all families), or
    "complex" (negated complex bilinear form, Trouillon et al. 2016)."""

    def emb(prefix: str, col: str, i: int) -> str:
        h = _hex8_int_sql(f"md5('{prefix}#' || {col} || '#{i}')")
        return f"({h} % {emb_mod})"

    if score_fn == "transe":
        dist = " + ".join(
            f"abs({emb('e', 'subj', i)} + {emb('r', 'pred_norm', i)}"
            f" - {emb('e', 'c', i)})"
            for i in range(dim)
        )
    elif score_fn == "complex":
        # Re(<w_r, e_s, conj(e_o)>), negated: rr*(sr*or + si*oi)
        # + ri*(sr*oi - si*or) per dim — the kgtrain.kge_eval branch
        dist = "-(" + " + ".join(
            f"{emb('rr', 'pred_norm', i)}"
            f" * ({emb('er', 'subj', i)} * {emb('er', 'c', i)}"
            f" + {emb('ei', 'subj', i)} * {emb('ei', 'c', i)})"
            f" + {emb('ri', 'pred_norm', i)}"
            f" * ({emb('er', 'subj', i)} * {emb('ei', 'c', i)}"
            f" - {emb('ei', 'subj', i)} * {emb('er', 'c', i)})"
            for i in range(dim)
        ) + ")"
    else:
        dist = "-(" + " + ".join(
            f"{emb('e', 'subj', i)} * {emb('r', 'pred_norm', i)}"
            f" * {emb('e', 'c', i)}"
            for i in range(dim)
        ) + ")"
    body = (
        _kg_prefix(model)
        + _triples_ctes()
        + f"""
, dtrip AS (
    SELECT DISTINCT subj, subj_type, pred_norm, obj, obj_type FROM tripc
),
vocab AS (
    SELECT DISTINCT ent, etype FROM (
        SELECT subj AS ent, subj_type AS etype FROM dtrip
        UNION ALL
        SELECT obj, obj_type FROM dtrip
    )
),
cand0 AS (
    SELECT d.subj, d.subj_type, d.pred_norm, d.obj, d.obj_type, v.ent AS c
    FROM dtrip d JOIN vocab v ON v.etype = d.obj_type
),
truth AS (
    SELECT DISTINCT subj, subj_type, pred_norm, obj AS c, obj_type FROM dtrip
),
cand AS (
    SELECT c0.* FROM cand0 c0
    LEFT JOIN truth t
      ON t.subj = c0.subj AND t.subj_type = c0.subj_type
     AND t.pred_norm = c0.pred_norm AND t.c = c0.c
     AND t.obj_type = c0.obj_type
    WHERE t.c IS NULL OR c0.c = c0.obj
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY subj, subj_type, pred_norm, obj, obj_type
        ORDER BY dist ASC, c ASC) AS rank
    FROM (SELECT *, CAST({dist} AS BIGINT) AS dist FROM cand)
),
per_triple AS (
    SELECT subj, subj_type, pred_norm, obj, obj_type,
           CAST(count(*) AS BIGINT) AS n_cands,
           CAST(min(CASE WHEN c = obj THEN rank END) AS BIGINT) AS rank
    FROM ranked
    GROUP BY subj, subj_type, pred_norm, obj, obj_type
)
SELECT pred_norm,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(n_cands) AS BIGINT) AS n_cands,
       CAST(sum(rank) AS BIGINT) AS sum_rank,
       CAST(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits1,
       CAST(sum(CASE WHEN rank <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS hits3,
       CAST(sum(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits10
FROM per_triple GROUP BY pred_norm
"""
    )
    return _materialize(body, "dtrip", "vocab")


def er_pair_features(
    max_bucket: int = 100, scale: int = 1_000_000, model: str = "a100"
) -> str:
    """Pair-feature twin (pipeline/er.pair_features): identical phonetic
    key construction + misspelling splice as er_phonetic_pairs, then the
    full integer feature vector per in-bucket pair (levenshtein, lengths,
    distinct-token overlap, char-3-gram shingle Jaccard statistics)."""
    from unsupervised_ner_spark.pipeline.er import PHONETIC_FROM, PHONETIC_TO

    collapse = "translate(u, '{f}', '{t}')".format(f=PHONETIC_FROM, t=PHONETIC_TO)
    for digit in "123456":
        collapse = (
            f"regexp_replace({collapse}, '{digit}{digit}+', '{digit}', 'g')"
        )
    shingle = (
        "list_distinct(list_transform("
        "generate_series(1, greatest(length('^' || {c} || '$') - 2, 1)), "
        "i -> substr('^' || {c} || '$', i, 3)))"
    )
    toks = "list_distinct(str_split({c}, ' '))"
    return (
        _kg_prefix(model)
        + f"""
, occ0 AS (
    SELECT DISTINCT
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface
    FROM typed WHERE pred_group <> 'OTHER'
),
occ AS (
    SELECT norm_surface FROM occ0
    UNION
    SELECT regexp_replace(norm_surface, '^(.[^a]*)a', '\\1e') AS norm_surface
    FROM occ0
    WHERE length(norm_surface) >= 5
      AND regexp_matches(norm_surface, '^.[^a]*a')
),
ku AS (
    SELECT norm_surface,
           upper(regexp_replace(norm_surface, '[^A-Za-z]', '', 'g')) AS u
    FROM occ WHERE length(norm_surface) > 0
),
kd AS (
    SELECT norm_surface, substring(u, 1, 1) AS first, {collapse} AS d,
           translate(substring(u, 1, 1), '{PHONETIC_FROM}', '{PHONETIC_TO}')
               AS code_first
    FROM ku
),
keyed AS (
    SELECT norm_surface,
           first || rpad(substring(
               CASE WHEN code_first <> '' AND substring(d, 1, 1) = code_first
                    THEN substring(d, 2) ELSE d END, 1, 3), 3, '0') AS pkey
    FROM kd
),
k4 AS (SELECT * FROM keyed WHERE length(pkey) = 4),
ok AS (SELECT pkey FROM k4 GROUP BY pkey HAVING count(*) <= {max_bucket}),
sm AS (SELECT k4.* FROM k4 JOIN ok USING (pkey)),
pr AS (
    SELECT a.pkey, a.norm_surface AS surf_a, b.norm_surface AS surf_b
    FROM sm a JOIN sm b ON a.pkey = b.pkey
    WHERE a.norm_surface < b.norm_surface
),
fe AS (
    SELECT pkey, surf_a, surf_b,
           {shingle.format(c='surf_a')} AS sha,
           {shingle.format(c='surf_b')} AS shb
    FROM pr
),
fz AS (
    SELECT pkey, surf_a, surf_b,
           CAST(len(list_intersect(sha, shb)) AS BIGINT) AS sh_inter,
           CAST(len(sha) + len(shb) - len(list_intersect(sha, shb))
                AS BIGINT) AS sh_union
    FROM fe
)
SELECT pkey, surf_a, surf_b,
       CAST(levenshtein(surf_a, surf_b) AS BIGINT) AS lev,
       CAST(length(surf_a) AS BIGINT) AS len_a,
       CAST(length(surf_b) AS BIGINT) AS len_b,
       CAST(len({toks.format(c='surf_a')}) AS BIGINT) AS n_tok_a,
       CAST(len({toks.format(c='surf_b')}) AS BIGINT) AS n_tok_b,
       CAST(len(list_intersect({toks.format(c='surf_a')},
                               {toks.format(c='surf_b')})) AS BIGINT)
           AS tok_overlap,
       sh_inter, sh_union,
       CAST((CAST({scale} AS BIGINT) * sh_inter) // sh_union AS BIGINT)
           AS sh_jaccard_ppm
FROM fz
"""
    )


def _landmark_forward_sql(
    model: str, rounds: int, n_seeds: int
) -> tuple[str, str, list]:
    """Shared forward-sweep CTE chain (pipeline/er.py _landmark_forward
    twin) over the co-occurrence graph UNION the doc_id-derived
    diamond-ladder splice: returns (body, final-state CTE name,
    CTEs to materialize). Used by kg_path_counts and kg_betweenness."""
    from __spark_entry__ import PATH_SPLICE_A, PATH_SPLICE_B

    la = "['" + "', '".join(PATH_SPLICE_A) + "']"
    lb = "['" + "', '".join(PATH_SPLICE_B) + "']"
    body = f"""
WITH eg0 AS ({kg_cooccurrence(model)})
, spl AS (
    SELECT DISTINCT 'hub0' AS ent_a,
           'leaf' || CAST(doc_id % 12 AS VARCHAR) AS ent_b
    FROM documents
    UNION
    SELECT DISTINCT ({la})[(doc_id % 8) + 1] AS ent_a,
           ({lb})[(doc_id % 8) + 1] AS ent_b
    FROM documents
),
eg AS (
    SELECT ent_a, type_a, ent_b, type_b FROM eg0
    UNION ALL
    SELECT ent_a, 'SPL' AS type_a, ent_b, 'SPL' AS type_b FROM spl
),
sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
seeds AS (
    SELECT src, CAST(row_number() OVER (ORDER BY deg DESC, src) AS BIGINT)
           AS seed_rank
    FROM deg
    QUALIFY seed_rank <= {n_seeds}
),
s0 AS (
    SELECT src AS seed, src AS k, CAST(0 AS BIGINT) AS dist,
           CAST(1 AS BIGINT) AS sigma
    FROM seeds
)"""
    prev = "s0"
    mats = ["sym", "seeds"]
    for i in range(1, rounds + 1):
        body += f""",
n{i} AS (
    SELECT f.seed, s.dst AS k, CAST(sum(f.sigma) AS BIGINT) AS sigma
    FROM sym s JOIN {prev} f ON s.src = f.k
    WHERE f.dist = {i - 1}
    GROUP BY f.seed, s.dst
),
s{i} AS (
    SELECT * FROM {prev}
    UNION ALL
    SELECT n.seed, n.k, CAST({i} AS BIGINT) AS dist, n.sigma
    FROM n{i} n
    WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                      WHERE p.seed = n.seed AND p.k = n.k)
)"""
        mats.append(prev)
        prev = f"s{i}"
    return body, prev, mats


def kg_path_counts(
    model: str = "a100", rounds: int = 3, n_seeds: int = 3
) -> str:
    """Landmark shortest-path-count twin (pipeline/er.py
    landmark_path_counts): unrolled level-synchronous Brandes forward
    sweep — per round, sigma sums ONLY from the dist=i-1 frontier into
    NOT EXISTS-unseen nodes — over the spliced graph
    (_landmark_forward_sql)."""
    body, prev, mats = _landmark_forward_sql(model, rounds, n_seeds)
    body += f"""
SELECT sd.seed_rank,
       split_part(st.k, '|', 1) AS ent, split_part(st.k, '|', 2) AS etype,
       st.dist, st.sigma
FROM {prev} st JOIN seeds sd ON sd.src = st.seed
"""
    return _materialize(body, *dict.fromkeys(mats))


def kg_betweenness(
    model: str = "a100", rounds: int = 3, n_seeds: int = 3,
    scale: int = 1_000_000,
) -> str:
    """Landmark-betweenness twin (pipeline/er.py landmark_betweenness):
    the shared forward sweep, then the backward dependency accumulation
    unrolled level-by-level from the horizon down — per level one
    LEFT JOIN of the level-d state against adjacency x the finalized
    level-(d+1) deltas, ``sigma * (scale + delta_w) // sigma_w`` summed
    per node (all operands positive, so // == Spark's div)."""
    body, prev, mats = _landmark_forward_sql(model, rounds, n_seeds)
    body += f""",
b{rounds} AS (
    SELECT seed, k, dist, sigma, CAST(0 AS BIGINT) AS delta
    FROM {prev} WHERE dist = {rounds}
)"""
    for d in range(rounds - 1, -1, -1):
        body += f""",
b{d} AS (
    SELECT v.seed, v.k, v.dist, v.sigma,
           CAST(coalesce(sum(
               v.sigma * (CAST({scale} AS BIGINT) + w.delta) // w.sigma
           ), 0) AS BIGINT) AS delta
    FROM (SELECT * FROM {prev} WHERE dist = {d}) v
    LEFT JOIN sym e ON e.src = v.k
    LEFT JOIN b{d + 1} w ON w.k = e.dst AND w.seed = v.seed
    GROUP BY v.seed, v.k, v.dist, v.sigma
)"""
        mats.append(f"b{d + 1}")
    allb = " UNION ALL ".join(
        f"SELECT * FROM b{d}" for d in range(rounds + 1)
    )
    body += f"""
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       CAST(count(*) AS BIGINT) AS n_landmarks,
       CAST(sum(delta) AS BIGINT) AS bc_scaled
FROM ({allb}) WHERE dist > 0
GROUP BY k
"""
    return _materialize(body, *dict.fromkeys(mats))


def kg_anf(model: str = "a100", rounds: int = 2) -> str:
    """ANF / HyperBall twin (pipeline/er.py anf_registers): per-node
    16-register HLL sketches of the r-hop ball, ``rounds`` unrolled
    rounds of element-wise max-merge over the symmetrized co-occurrence
    graph; hashed surface is the integer sufficient statistics
    (n_present, sum_pow = sum 2^(49 - r_max)) per (node, radius).
    Identical md5 bucket/rho construction as txt_hll_registers."""
    rho = """CASE WHEN lz = 12 THEN 49
                     ELSE lz * 4
                          + CASE WHEN d = '1' THEN 3
                                 WHEN d IN ('2', '3') THEN 2
                                 WHEN d IN ('4', '5', '6', '7') THEN 1
                                 ELSE 0 END
                          + 1 END"""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
nodes AS (SELECT DISTINCT src AS k FROM sym),
z AS (
    SELECT k, substring(md5(k), 1, 1) AS bucket,
           length(regexp_extract(substring(md5(k), 2, 12), '^0*')) AS lz,
           substring(substring(md5(k), 2, 12),
                     length(regexp_extract(substring(md5(k), 2, 12), '^0*')) + 1,
                     1) AS d
    FROM nodes
),
r0 AS (
    SELECT k, bucket, CAST({rho} AS BIGINT) AS r_max FROM z
)"""
    prev = "r0"
    for i in range(1, int(rounds) + 1):
        body += f""",
r{i} AS (
    SELECT k, bucket, CAST(max(r_max) AS BIGINT) AS r_max FROM (
        SELECT k, bucket, r_max FROM {prev}
        UNION ALL
        SELECT s.dst AS k, r.bucket, r.r_max
        FROM sym s JOIN {prev} r ON s.src = r.k
    ) GROUP BY k, bucket
)"""
        prev = f"r{i}"
    stats = "\nUNION ALL\n".join(
        f"""SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       CAST({i} AS BIGINT) AS radius,
       CAST(count(*) AS BIGINT) AS n_present,
       CAST(sum(CAST(1 AS BIGINT) << CAST(49 - r_max AS INTEGER)) AS BIGINT)
           AS sum_pow
FROM r{i} GROUP BY k"""
        for i in range(int(rounds) + 1)
    )
    body += "\n" + stats + "\n"
    return _materialize(
        body, "sym", *[f"r{i}" for i in range(int(rounds) + 1)]
    )


def kg_mis(model: str = "a100", rounds: int = 3) -> str:
    """Parallel-greedy MIS twin (pipeline/er.py maximal_independent_set):
    md5-int32 priorities (_hex8_int_sql), per round a node joins the MIS
    iff NO undecided neighbor precedes it in (priority, key) order; its
    undecided neighbors become excluded; ``rounds`` unrolled."""
    prio = _hex8_int_sql("md5(k)")
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
u0 AS (
    SELECT k, {prio} AS prio FROM (SELECT DISTINCT src AS k FROM sym)
)"""
    prev = "u0"
    outs = []
    mats = ["sym", "u0"]
    for r in range(1, int(rounds) + 1):
        body += f""",
w{r} AS (
    SELECT u.k FROM {prev} u
    WHERE NOT EXISTS (
        SELECT 1 FROM sym s JOIN {prev} v ON v.k = s.dst
        WHERE s.src = u.k
          AND (v.prio < u.prio OR (v.prio = u.prio AND v.k < u.k))
    )
),
x{r} AS (
    SELECT DISTINCT s.dst AS k
    FROM sym s
    JOIN w{r} w ON w.k = s.src
    JOIN {prev} v ON v.k = s.dst
    WHERE NOT EXISTS (SELECT 1 FROM w{r} q WHERE q.k = s.dst)
),
u{r} AS (
    SELECT u.k, u.prio FROM {prev} u
    WHERE NOT EXISTS (SELECT 1 FROM w{r} w WHERE w.k = u.k)
      AND NOT EXISTS (SELECT 1 FROM x{r} x WHERE x.k = u.k)
)"""
        outs.append(
            f"SELECT k, 'mis' AS status, CAST({r} AS BIGINT) AS round FROM w{r}"
        )
        outs.append(
            f"SELECT k, 'excluded', CAST({r} AS BIGINT) FROM x{r}"
        )
        mats += [f"w{r}", f"x{r}", f"u{r}"]
        prev = f"u{r}"
    outs.append(
        f"SELECT k, 'open', CAST({int(rounds)} AS BIGINT) FROM {prev}"
    )
    body += f""",
allout AS (
{chr(10).join('    ' + o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
)
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       status, round
FROM allout
"""
    return _materialize(body, *mats[:-1])


def kg_densest(
    model: str = "a100", rounds: int = 4, eps_num: int = 11, eps_den: int = 10,
) -> str:
    """Densest-subgraph peel twin (pipeline/er.py densest_subgraph_peel):
    ``rounds`` unrolled Bahmani-et-al peel rounds — per round delete every
    node with deg * n * eps_den <= eps_num * e2 (e2 = symmetrized edge
    count) — then the exact-fraction pairwise argmax over the snapshot
    stats picks the best-density round; in_best = peeled strictly after
    it."""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
a0 AS (SELECT DISTINCT src AS k FROM sym),
e0 AS (SELECT src, dst FROM sym)"""
    mats = ["sym", "a0", "e0"]
    outs = []
    for r in range(1, int(rounds) + 1):
        p = r - 1
        body += f""",
d{p} AS (SELECT src AS k, CAST(count(*) AS BIGINT) AS deg
         FROM e{p} GROUP BY src),
p{r} AS (
    SELECT a.k FROM a{p} a LEFT JOIN d{p} d ON d.k = a.k
    WHERE COALESCE(d.deg, 0) * (SELECT count(*) FROM a{p}) * {int(eps_den)}
          <= {int(eps_num)} * (SELECT count(*) FROM e{p})
),
a{r} AS (
    SELECT k FROM a{p}
    WHERE NOT EXISTS (SELECT 1 FROM p{r} WHERE p{r}.k = a{p}.k)
),
e{r} AS (
    SELECT s.src, s.dst FROM sym s
    JOIN a{r} x ON x.k = s.src JOIN a{r} y ON y.k = s.dst
)"""
        outs.append(f"SELECT k, CAST({r} AS BIGINT) AS pr FROM p{r}")
        mats += [f"p{r}", f"a{r}", f"e{r}"]
    outs.append(
        f"SELECT k, CAST({int(rounds) + 1} AS BIGINT) FROM a{int(rounds)}"
    )
    snaps = "\nUNION ALL\n".join(
        f"    SELECT {r} AS r, (SELECT count(*) FROM a{r}) AS n,"
        f" (SELECT count(*) FROM e{r}) AS e2"
        for r in range(int(rounds) + 1)
    )
    body += f""",
snaps AS (
{snaps}
),
best AS (
    SELECT min(r) AS r FROM snaps s
    WHERE s.n > 0 AND NOT EXISTS (
        SELECT 1 FROM snaps t WHERE t.n > 0
          AND (t.e2 * s.n > s.e2 * t.n
               OR (t.e2 * s.n = s.e2 * t.n AND t.r < s.r))
    )
),
allp AS (
{chr(10).join('    ' + o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
)
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       pr AS peel_round,
       CAST(CASE WHEN pr > (SELECT r FROM best) THEN 1 ELSE 0 END AS BIGINT)
           AS in_best
FROM allp
"""
    return _materialize(body, *mats)


def txt_max_coverage(model: str = "a100", k: int = 5) -> str:
    """Greedy max-coverage twin (ops/curation.py max_coverage_select):
    (url, ent) pairs from the typed production chain, ``k`` unrolled
    greedy rounds — per round the (gain DESC, url ASC) top-1 over the
    marginal counts against the NOT EXISTS-covered entity set."""
    norm = ("trim(regexp_replace(regexp_replace(lower(surface),"
            " '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))")
    body = (
        _kg_prefix(model)
        + f"""
, p0 AS (
    SELECT DISTINCT url, {norm} || '|' || pred_group AS ent
    FROM typed
    WHERE pred_group <> 'OTHER' AND length({norm}) > 0
)"""
    )
    mats = ["p0"]
    outs = []
    prev_rem = "p0"
    cov = None
    for r in range(1, int(k) + 1):
        body += f""",
mcv_m{r} AS (
    SELECT url, CAST(count(*) AS BIGINT) AS gain
    FROM {prev_rem} GROUP BY url
),
mcv_b{r} AS (
    SELECT url, gain FROM mcv_m{r} ORDER BY gain DESC, url ASC LIMIT 1
),
mcv_c{r} AS (
    {"SELECT ent FROM " + cov + " UNION ALL " if cov else ""}SELECT p.ent FROM p0 p JOIN mcv_b{r} USING (url)
),
mcv_rem{r} AS (
    SELECT t.url, t.ent FROM {prev_rem} t
    WHERE NOT EXISTS (SELECT 1 FROM mcv_c{r} c WHERE c.ent = t.ent)
)"""
        outs.append(
            f"SELECT CAST({r} AS BIGINT) AS round, url, gain FROM mcv_b{r}"
        )
        mats += [f"mcv_b{r}", f"mcv_c{r}", f"mcv_rem{r}"]
        prev_rem = f"mcv_rem{r}"
        cov = f"mcv_c{r}"
    body += f"""
{chr(10).join(o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
"""
    return _materialize(body, *mats[:-1])


def kg_coreness(model: str = "a100", rounds: int = 3) -> str:
    """H-index coreness twin (pipeline/er.py coreness_hindex): degree
    init, then ``rounds`` unrolled H-operator rounds — per node the max
    over rank rn (neighbor values desc, key asc) of min(value, rn)."""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a AS dst FROM eg
),
h0 AS (
    SELECT src AS k, CAST(count(*) AS BIGINT) AS val FROM sym GROUP BY src
)"""
    prev = "h0"
    mats = ["sym", "h0"]
    for t in range(1, int(rounds) + 1):
        body += f""",
h{t} AS (
    SELECT src AS k, CAST(max(least(nval, rn)) AS BIGINT) AS val FROM (
        SELECT s.src, p.val AS nval,
               row_number() OVER (PARTITION BY s.src
                                  ORDER BY p.val DESC, s.dst ASC) AS rn
        FROM sym s JOIN {prev} p ON p.k = s.dst
    ) GROUP BY src
)"""
        mats.append(f"h{t}")
        prev = f"h{t}"
    body += f"""
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       val AS coreness
FROM {prev}
"""
    return _materialize(body, *mats[:-1])


def txt_sitemaps() -> str:
    """Sitemap twin (ops/webtext.build_sitemaps + parse_sitemaps): the
    SAME doc_id-derived XML built with string_agg(ORDER BY doc_id), then
    the regex projection replayed per <url> entry."""
    entry = (
        "'<url><loc>https://' || host || '/page-' ||"
        " CAST(doc_id AS VARCHAR) || '.html</loc>'"
        " || '<lastmod>2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')"
        " || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') || '</lastmod>'"
        " || '<changefreq>' ||"
        " (['daily', 'weekly', 'monthly'])[(doc_id % 3) + 1] || '</changefreq>'"
        " || '<priority>0.' || CAST(doc_id % 10 AS VARCHAR) ||"
        " '</priority></url>'"
    )
    return f"""
WITH e AS (
    SELECT 'site-' || CAST(doc_id % 17 AS VARCHAR) || '.example.com' AS host,
           doc_id
    FROM documents
),
e2 AS (SELECT host, doc_id, {entry} AS entry FROM e),
sm AS (
    SELECT host,
           '<?xml version="1.0"?><urlset>' ||
           string_agg(entry, '' ORDER BY doc_id) || '</urlset>' AS xml
    FROM e2 GROUP BY host
),
ux AS (
    SELECT host, regexp_extract_all(xml, '<url>(.*?)</url>', 1) AS ents
    FROM sm
),
ex AS (
    SELECT host, CAST(u.i - 1 AS BIGINT) AS entry_idx, ents[u.i] AS en
    FROM ux, UNNEST(generate_series(1, len(ents))) AS u(i)
),
parsed AS (
    SELECT host, entry_idx,
           regexp_extract(en, '<loc>([^<]*)</loc>', 1) AS loc,
           regexp_extract(en, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod,
           regexp_extract(en, '<changefreq>([^<]*)</changefreq>', 1)
               AS changefreq,
           CAST(coalesce(nullif(
               regexp_extract(en, '<priority>0\\.([0-9])</priority>', 1),
               ''), '0') AS BIGINT) * 10 AS priority_pct
    FROM ex
)
SELECT host, entry_idx, loc, lastmod, changefreq,
       CAST(priority_pct AS BIGINT) AS priority_pct
FROM parsed WHERE length(loc) > 0
"""


def kg_motif_census(model: str = "a100") -> str:
    """Typed-motif census twin (pipeline/er.py motif_census): sorted type
    multiset key (list_sort == array_sort on ASCII type names) over the
    triangle-table chain."""
    return f"""
WITH tri AS ({kg_triangles(model)})
SELECT array_to_string(list_sort([type_a, type_b, type_c]), '|') AS motif,
       CAST(count(*) AS BIGINT) AS n_triangles,
       CAST(count(DISTINCT ent_a) AS BIGINT) AS n_corner_a,
       CAST(count(DISTINCT ent_b) AS BIGINT) AS n_corner_b,
       CAST(count(DISTINCT ent_c) AS BIGINT) AS n_corner_c
FROM tri GROUP BY motif
"""


def kg_ego_export(model: str = "a100", hops: int = 2) -> str:
    """Ego-subgraph twin (pipeline/er.py ego_subgraph): top-PageRank root
    ((rank desc, ent, etype) total order over the kg_pagerank chain),
    ``hops`` unrolled min-relaxations, induced-edge join with both
    endpoint distances."""
    body = f"""
WITH ege AS ({kg_cooccurrence(model)})
, pr AS ({kg_pagerank(model)})
, root AS (
    SELECT ent || '|' || etype AS k, ent AS root_ent, etype AS root_type
    FROM (
        SELECT *, row_number() OVER (ORDER BY rank_scaled DESC, ent, etype)
               AS rn
        FROM pr
    ) WHERE rn = 1
),
esym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM ege
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM ege
),
ed0 AS (SELECT k, CAST(0 AS BIGINT) AS dist FROM root)"""
    prev = "ed0"
    for i in range(1, hops + 1):
        body += f""",
ed{i} AS (
    SELECT k, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT k, dist FROM {prev}
        UNION ALL
        SELECT s.dst AS k, d.dist + 1 AS dist
        FROM esym s JOIN {prev} d ON s.src = d.k
    ) GROUP BY k
)"""
        prev = f"ed{i}"
    body += f"""
, eek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb,
           n_sents, n_docs
    FROM ege
)
SELECT r.root_ent, r.root_type,
       split_part(eek.ka, '|', 1) AS ent_a, split_part(eek.ka, '|', 2) AS type_a,
       da.dist AS dist_a,
       split_part(eek.kb, '|', 1) AS ent_b, split_part(eek.kb, '|', 2) AS type_b,
       db.dist AS dist_b,
       eek.n_sents, eek.n_docs
FROM eek
JOIN {prev} da ON da.k = eek.ka
JOIN {prev} db ON db.k = eek.kb
CROSS JOIN root r
"""
    return _materialize(
        body, "ege", "esym", *[f"ed{i}" for i in range(hops)], prev
    )


def kg_local_bridges(model: str = "a100") -> str:
    """Local-bridge twin (pipeline/er.py local_bridges): per-edge
    triangle support via the two-neighbor-expansion wedge join, LEFT
    join back with coalesce-0, bridge flag."""
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, ek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb,
           n_sents, n_docs
    FROM eg
),
sym AS (
    SELECT ka AS src, kb AS dst FROM ek
    UNION ALL
    SELECT kb AS src, ka AS dst FROM ek
),
tri AS (
    SELECT e.ka, e.kb, CAST(count(*) AS BIGINT) AS n_common
    FROM ek e
    JOIN sym sa ON sa.src = e.ka
    JOIN sym sb ON sb.src = e.kb AND sb.dst = sa.dst
    GROUP BY e.ka, e.kb
)
SELECT split_part(e.ka, '|', 1) AS ent_a, split_part(e.ka, '|', 2) AS type_a,
       split_part(e.kb, '|', 1) AS ent_b, split_part(e.kb, '|', 2) AS type_b,
       e.n_sents, e.n_docs,
       CAST(coalesce(t.n_common, 0) AS BIGINT) AS n_common,
       CAST(CASE WHEN coalesce(t.n_common, 0) = 0 THEN 1 ELSE 0 END
            AS BIGINT) AS is_bridge
FROM ek e LEFT JOIN tri t ON t.ka = e.ka AND t.kb = e.kb
""",
        "ek", "sym",
    )


def txt_budget_select(scale: int = 1_000_000) -> str:
    """Budget-selection twin (ops/textstats.py budget_select): the SAME
    (score desc, doc_id asc) total order replayed with a plain global
    running-sum window (the engine's two-level band decomposition is an
    execution strategy, not a semantics change), half-corpus budget,
    truncating division on positive longs."""
    return _materialize(
        f"""
WITH lm AS ({txt_lm_score(scale)})
, tkn AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tokens
    FROM documents
),
d AS (
    SELECT t.doc_id, t.n_tokens,
           CAST(coalesce(l.lm_score_scaled, 0) AS BIGINT) AS score
    FROM tkn t LEFT JOIN lm l USING (doc_id)
),
c AS (
    SELECT doc_id, score, n_tokens,
           CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_tokens
    FROM d
),
b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM d)
SELECT c.doc_id, c.score, c.n_tokens, c.cum_tokens, b.budget,
       CAST(CASE WHEN c.cum_tokens <= b.budget THEN 1 ELSE 0 END AS BIGINT)
           AS selected
FROM c CROSS JOIN b
""",
        "d",
    )


def txt_gopher_flags(
    min_words: int = 50, max_words: int = 100_000,
    mean_len_lo: int = 300, mean_len_hi: int = 450,
    min_alpha_pct: int = 90, min_stopwords: int = 2,
    min_distinct_pct: int = 45,
) -> str:
    """Gopher rule-flag twin (ops/textstats.py gopher_flags): identical
    integer cross-multiplied thresholds over the same whitespace token
    stream."""
    from unsupervised_ner_spark.ops.textstats import GOPHER_STOPWORDS

    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH t AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
               AS toks
    FROM documents
),
s AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0)
                AS BIGINT) AS sum_word_len,
           CAST(len(list_filter(toks,
                x -> list_contains([{sw}], lower(x)))) AS BIGINT)
               AS n_stopwords,
           CAST(len(list_distinct(list_transform(toks, x -> lower(x))))
                AS BIGINT) AS n_distinct,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                AS BIGINT) AS n_alpha
    FROM t
)
SELECT doc_id, n_words, sum_word_len, n_stopwords, n_distinct,
       CAST(CASE WHEN n_words >= {min_words} AND n_words <= {max_words}
                 THEN 1 ELSE 0 END AS BIGINT) AS f_wordcount,
       CAST(CASE WHEN {mean_len_lo} * n_words <= 100 * sum_word_len
                  AND 100 * sum_word_len <= {mean_len_hi} * n_words
                 THEN 1 ELSE 0 END AS BIGINT) AS f_meanlen,
       CAST(CASE WHEN 100 * n_alpha >= {min_alpha_pct} * n_words
                 THEN 1 ELSE 0 END AS BIGINT) AS f_alpha,
       CAST(CASE WHEN n_stopwords >= {min_stopwords}
                 THEN 1 ELSE 0 END AS BIGINT) AS f_stopwords,
       CAST(CASE WHEN 100 * n_distinct >= {min_distinct_pct} * n_words
                 THEN 1 ELSE 0 END AS BIGINT) AS f_lexdiv,
       CAST(CASE WHEN n_words >= {min_words} AND n_words <= {max_words}
                  AND {mean_len_lo} * n_words <= 100 * sum_word_len
                  AND 100 * sum_word_len <= {mean_len_hi} * n_words
                  AND 100 * n_alpha >= {min_alpha_pct} * n_words
                  AND n_stopwords >= {min_stopwords}
                  AND 100 * n_distinct >= {min_distinct_pct} * n_words
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
"""


def kg_sameas(model: str = "a100") -> str:
    """owl:sameAs export twin (pipeline/er.py sameas_ntriples): pure
    string construction over the er_entity_aliases chain (md5 surface
    node URI -> canonical entity URI)."""
    return f"""
WITH al AS ({er_entity_aliases(model)})
SELECT '<urn:kg:s:' || md5(alias || '|' || etype) ||
       '> <http://www.w3.org/2002/07/owl#sameAs> <urn:kg:e:' ||
       entity_id || '> .' AS ntriple,
       entity_id, etype, alias, CAST(rank AS BIGINT) AS rank
FROM al
"""


def ann_kmeans_update(n_centroids: int | None = None, scale: int = 1000) -> str:
    """Distributed Lloyd-update twin (ops/simsearch.py kmeans_update):
    the same md5-sampled codebook + 9dp expansion-form assignment as
    ann_ivf_assign, then per-(cell, component) member counts and
    integer-quantized component sums. Quantization (float->double cast,
    *scale multiply, floor) is exact IEEE on both engines and integer
    sums are order-independent, so the hashed surface is deterministic.
    The pos/comp zip uses DuckDB's parallel-unnest (equal-length lists
    zip positionally)."""
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
m AS (
    SELECT a.centroid_id,
           unnest(generate_series(1, len(e.v))) - 1 AS pos,
           unnest(e.v) AS comp
    FROM assign a JOIN e USING (vec_id)
)
SELECT centroid_id, CAST(pos AS BIGINT) AS pos,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(sum(CAST(floor(comp * {scale}) AS BIGINT)) AS BIGINT) AS sum_q
FROM m GROUP BY centroid_id, pos
"""


def kg_pred_signatures(model: str = "a100", num: int = 1, den: int = 2) -> str:
    """Predicate domain/range signature twin
    (pipeline/triples.predicate_signatures): one aggregate to the
    (pred, subj_type, obj_type) vocabulary, then the per-predicate total,
    deterministic signature rank, modal flag, and the integer
    cross-multiplied num/den majority-dominance rule on the modal row."""
    return f"""
WITH trip AS ({kg_triples(model)}),
sig AS (
    SELECT pred_norm, subj_type, obj_type,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM trip GROUP BY pred_norm, subj_type, obj_type
),
rk AS (
    SELECT pred_norm, subj_type, obj_type, n_pairs,
           CAST(sum(n_pairs) OVER (PARTITION BY pred_norm) AS BIGINT)
               AS n_total,
           CAST(row_number() OVER (
                PARTITION BY pred_norm
                ORDER BY n_pairs DESC, subj_type ASC, obj_type ASC
           ) AS BIGINT) AS sig_rank
    FROM sig
)
SELECT pred_norm, subj_type, obj_type, n_pairs, n_total, sig_rank,
       CAST(CASE WHEN sig_rank = 1 THEN 1 ELSE 0 END AS BIGINT) AS is_modal,
       CAST(CASE WHEN sig_rank = 1 AND n_pairs * {den} >= n_total * {num}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_dominant
FROM rk
"""


def er_sorted_neighborhood(
    window: int = 3, max_lev: int = 2, model: str = "a100"
) -> str:
    """Sorted-neighborhood twin (pipeline/er.sorted_neighborhood_pairs):
    plain GLOBAL row_number over the same normalized surface vocabulary
    (+ the suffix splice the query unions in) — the engine's banded
    two-level rank must equal it (first-character bands are contiguous
    under lexicographic order; the budget_select equivalence precedent)
    — then the rank-distance <= window self-join and the Levenshtein
    verify."""
    body = (
        _kg_prefix(model)
        + f"""
, occ0 AS (
    SELECT DISTINCT
           trim(regexp_replace(regexp_replace(lower(surface), '[^a-z0-9 ]', '', 'g'),
                               '\\s+', ' ', 'g')) AS norm_surface
    FROM typed WHERE pred_group <> 'OTHER'
),
occ AS (
    -- deterministic shared-prefix splice: 'x'-suffixed variants of
    -- surfaces >= 5 chars sort adjacently to their source at
    -- Levenshtein 1 (the phonetic-pairs splice is vowel-keyed and
    -- would NOT sort nearby) — measured first: 269/264 verified pairs
    -- with gaps spanning 1..3 at sf0.001/0.01
    SELECT norm_surface FROM occ0
    UNION
    SELECT norm_surface || 'x' FROM occ0 WHERE length(norm_surface) >= 5
),
r AS (
    SELECT norm_surface,
           CAST(row_number() OVER (ORDER BY norm_surface) - 1 AS BIGINT)
               AS rnk
    FROM occ WHERE length(norm_surface) > 0
)
SELECT a.norm_surface AS surf_a, b.norm_surface AS surf_b,
       CAST(b.rnk - a.rnk AS BIGINT) AS gap,
       CAST(levenshtein(a.norm_surface, b.norm_surface) AS BIGINT) AS lev
FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {window}
WHERE levenshtein(a.norm_surface, b.norm_surface) <= {max_lev}
"""
    )
    # r feeds BOTH self-join sides and chains the typed production CTEs —
    # DuckDB re-inlines multi-referenced CTEs, so materialize it
    return _materialize(body, "r")


SCC_SPLICE_SQL = """
    SELECT (['z','z','z','z','a','g'])[CAST(doc_id % 6 AS INT) + 1]
           || CAST((doc_id // 6) % 4 AS VARCHAR)
           || (['-c0','-c1','-c2','-c0','-in','-p'])[CAST(doc_id % 6 AS INT) + 1]
               AS src,
           (['z','z','z','m','z','g'])[CAST(doc_id % 6 AS INT) + 1]
           || CAST((doc_id // 6) % 4 AS VARCHAR)
           || (['-c1','-c2','-c0','-out','-c1','-q'])[CAST(doc_id % 6 AS INT) + 1]
               AS dst
    FROM documents
"""


def kg_scc(
    model: str = "a100", inner_rounds: int = 3, outer_rounds: int = 2,
    tail: str | None = None,
) -> str:
    """SCC coloring twin (pipeline/er.py scc_coloring): directed distinct
    triple edges UNION the deterministic cycle splice
    (__spark_entry__._scc_splice_edges — the word-salad triple graph is
    acyclic, measured), then per outer round ``inner_rounds`` unrolled
    forward max-color merges, pivot filter (k = c), ``inner_rounds``
    unrolled same-color backward reach steps, retire + shrink."""
    body = f"""
WITH trip AS ({kg_triples(model)}),
splice AS ({SCC_SPLICE_SQL}),
dedges AS (
    SELECT DISTINCT src, dst FROM (
        SELECT subj AS src, obj AS dst FROM trip
        UNION ALL
        SELECT src, dst FROM splice
    )
),
act1 AS (
    SELECT DISTINCT k FROM (
        SELECT src AS k FROM dedges UNION ALL SELECT dst FROM dedges
    )
)"""
    mats = ["dedges", "act1"]
    outs = []
    for o in range(1, int(outer_rounds) + 1):
        body += f""",
se{o} AS (
    SELECT d.src, d.dst FROM dedges d
    JOIN act{o} x ON x.k = d.src JOIN act{o} y ON y.k = d.dst
),
sc{o}_0 AS (SELECT k, k AS c FROM act{o})"""
        mats += [f"se{o}", f"sc{o}_0"]
        prev = f"sc{o}_0"
        for i in range(1, int(inner_rounds) + 1):
            body += f""",
sc{o}_{i} AS (
    SELECT k, max(c) AS c FROM (
        SELECT k, c FROM {prev}
        UNION ALL
        SELECT e.dst AS k, p.c FROM se{o} e JOIN {prev} p ON p.k = e.src
    ) GROUP BY k
)"""
            mats.append(f"sc{o}_{i}")
            prev = f"sc{o}_{i}"
        color = prev
        body += f""",
sr{o}_0 AS (SELECT k, c FROM {color} WHERE k = c)"""
        mats.append(f"sr{o}_0")
        prevr = f"sr{o}_0"
        for j in range(1, int(inner_rounds) + 1):
            body += f""",
sr{o}_{j} AS (
    SELECT DISTINCT k, c FROM (
        SELECT k, c FROM {prevr}
        UNION ALL
        SELECT e.src AS k, r.c
        FROM se{o} e
        JOIN {prevr} r ON r.k = e.dst
        JOIN {color} s ON s.k = e.src
        WHERE s.c = r.c
    )
)"""
            mats.append(f"sr{o}_{j}")
            prevr = f"sr{o}_{j}"
        outs.append(
            f"SELECT k, c AS scc_id, 'scc' AS status,"
            f" CAST({o} AS BIGINT) AS round FROM {prevr}"
        )
        body += f""",
act{o + 1} AS (
    SELECT k FROM act{o} a
    WHERE NOT EXISTS (SELECT 1 FROM {prevr} r WHERE r.k = a.k)
)"""
        mats.append(f"act{o + 1}")
    outs.append(
        f"SELECT k, '', 'open', CAST({int(outer_rounds)} AS BIGINT)"
        f" FROM act{int(outer_rounds) + 1}"
    )
    body += f""",
sccout AS (
{chr(10).join('    ' + o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
)
{tail or "SELECT k AS node, scc_id, status, round FROM sccout"}
"""
    return _materialize(body, *mats)


def kg_condensation(
    model: str = "a100", inner_rounds: int = 3, outer_rounds: int = 2
) -> str:
    """Condensation-DAG twin (pipeline/er.py scc_condensation): the full
    kg_scc body, labels = scc_id for resolved nodes / own key for opens,
    two label joins onto the directed edge table, self-pairs dropped,
    edge-multiplicity aggregate."""
    tail = """, sclab AS (
    SELECT k, CASE WHEN status = 'scc' THEN scc_id ELSE k END AS lab
    FROM sccout
)
SELECT a.lab AS scc_a, b.lab AS scc_b, CAST(count(*) AS BIGINT) AS n_edges
FROM dedges d JOIN sclab a ON a.k = d.src JOIN sclab b ON b.k = d.dst
WHERE a.lab <> b.lab
GROUP BY a.lab, b.lab"""
    return kg_scc(model, inner_rounds, outer_rounds, tail=tail)


def kg_entity_facts(model: str = "a100", k: int = 3) -> str:
    """Entity top-facts twin (pipeline/er.py entity_top_facts): the
    kg_triple_support table, symmetrized salience aggregate, per-subject
    (n_support DESC, obj_sal DESC, pred, obj_id) window top-``k``."""
    return f"""
WITH ts AS ({kg_triple_support(model)}),
efsal AS (
    SELECT ent, CAST(sum(n_support) AS BIGINT) AS sal FROM (
        SELECT subj_id AS ent, n_support FROM ts
        UNION ALL
        SELECT obj_id, n_support FROM ts
    ) GROUP BY ent
)
SELECT subj_id, subj_type, subj_repr, pred, obj_id, obj_type, obj_repr,
       n_support, n_docs, obj_sal, rnk
FROM (
    SELECT t.*, s.sal AS obj_sal,
           CAST(row_number() OVER (
               PARTITION BY t.subj_id
               ORDER BY t.n_support DESC, s.sal DESC, t.pred ASC,
                        t.obj_id ASC) AS BIGINT) AS rnk
    FROM ts t JOIN efsal s ON s.ent = t.obj_id
) WHERE rnk <= {int(k)}
"""


def kg_sssp(model: str = "a100", rounds: int = 4) -> str:
    """Weighted-SSSP twin (pipeline/er.py sssp_weighted): symmetrized
    co-occurrence adjacency with w = greatest(1, 4 - n_sents), top-1
    degree seed ((deg DESC, key ASC) ties), ``rounds`` unrolled
    Bellman-Ford min-relaxations."""
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, wsym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst,
           greatest(1, 4 - n_sents) AS w
    FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a,
           greatest(1, 4 - n_sents)
    FROM eg
),
wdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM wsym GROUP BY src),
wseed AS (
    SELECT src FROM (
        SELECT src, row_number() OVER (ORDER BY deg DESC, src) AS rnk FROM wdeg
    ) WHERE rnk <= 1
),
wd0 AS (SELECT src AS k, CAST(0 AS BIGINT) AS dist FROM wseed)"""
    prev = "wd0"
    for i in range(1, int(rounds) + 1):
        body += f""",
wd{i} AS (
    SELECT k, CAST(min(dist) AS BIGINT) AS dist FROM (
        SELECT k, dist FROM {prev}
        UNION ALL
        SELECT s.dst AS k, d.dist + s.w AS dist
        FROM wsym s JOIN {prev} d ON s.src = d.k
    ) GROUP BY k
)"""
        prev = f"wd{i}"
    body += f"""
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype, dist
FROM {prev}
"""
    return _materialize(body, "wsym", *[f"wd{i}" for i in range(int(rounds))])


def kg_butterflies(model: str = "a100") -> str:
    """Butterfly-count twin (pipeline/er.py butterflies): the doc-level
    co-occurrence pair table, per pair C(n_docs, 2), symmetrized and
    aggregated per entity."""
    return f"""
WITH deg AS ({kg_doc_cooccurrence(model)}),
bp AS (
    SELECT ent_a, type_a, ent_b, type_b,
           CAST(n_docs * (n_docs - 1) // 2 AS BIGINT) AS bfly,
           n_docs AS nd
    FROM deg
),
bsym AS (
    SELECT ent_a AS ent, type_a AS etype, bfly, nd FROM bp
    UNION ALL
    SELECT ent_b, type_b, bfly, nd FROM bp
)
SELECT ent, etype,
       CAST(count(*) AS BIGINT) AS n_partners,
       CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_multi_partners,
       CAST(sum(bfly) AS BIGINT) AS n_bfly
FROM bsym
GROUP BY ent, etype
"""


def txt_textrank(
    window: int = 2, min_pair: int = 2, iterations: int = 3,
    scale: int = 1_000_000_000, topk: int = 20,
) -> str:
    """TextRank twin (ops/textstats.textrank_keywords): the txt_word_pmi
    pair table symmetrized to unordered weighted edges, ``iterations``
    unrolled integer weighted power steps (per-edge (rank*w) // strength
    contributions, 85/15 damping), (rank DESC, word ASC) top-``topk``."""
    tele = 15 * int(scale) // 100
    body = f"""
WITH wp AS ({txt_word_pmi(window, min_pair)}),
tr_und AS (
    SELECT least(w1, w2) AS a, greatest(w1, w2) AS b,
           CAST(sum(n_pair) AS BIGINT) AS w
    FROM wp WHERE w1 <> w2
    GROUP BY least(w1, w2), greatest(w1, w2)
),
tr_sym AS (
    SELECT a AS src, b AS dst, w FROM tr_und
    UNION ALL
    SELECT b, a, w FROM tr_und
),
tr_s AS (
    SELECT src AS k, CAST(sum(w) AS BIGINT) AS s FROM tr_sym GROUP BY src
),
tr_r0 AS (SELECT k, s, CAST({int(scale)} AS BIGINT) AS rank FROM tr_s)"""
    mats = ["tr_und", "tr_sym", "tr_s", "tr_r0"]
    prev = "tr_r0"
    for i in range(1, int(iterations) + 1):
        body += f""",
tr_m{i} AS (
    SELECT s.dst AS k, CAST(sum((r.rank * s.w) // r.s) AS BIGINT) AS inc
    FROM tr_sym s JOIN {prev} r ON r.k = s.src
    GROUP BY s.dst
),
tr_r{i} AS (
    SELECT t.k, t.s,
           CAST({tele} AS BIGINT)
           + (85 * coalesce(m.inc, CAST(0 AS BIGINT))) // 100 AS rank
    FROM tr_s t LEFT JOIN tr_m{i} m ON m.k = t.k
)"""
        mats += [f"tr_m{i}", f"tr_r{i}"]
        prev = f"tr_r{i}"
    body += f"""
SELECT word, strength, rank_scaled, rnk FROM (
    SELECT k AS word, s AS strength, rank AS rank_scaled,
           CAST(row_number() OVER (ORDER BY rank DESC, k) AS BIGINT) AS rnk
    FROM {prev}
) WHERE rnk <= {int(topk)}
"""
    return _materialize(body, *mats[:-1])


def er_em_weights(model: str = "a100") -> str:
    """Fellegi-Sunter sufficient-statistics twin (pipeline/er.fs_weights):
    the er_pair_features channel, rule-seeded label (lev <= 1), four
    binarized agreement features stacked and aggregated."""
    return f"""
WITH pf AS ({er_pair_features(model=model)}),
fslab AS (
    SELECT CASE WHEN lev <= 1 THEN 1 ELSE 0 END AS m,
           CASE WHEN tok_overlap >= 1 THEN 1 ELSE 0 END AS f_tok,
           CASE WHEN sh_jaccard_ppm >= 500000 THEN 1 ELSE 0 END AS f_jac,
           CASE WHEN abs(len_a - len_b) <= 1 THEN 1 ELSE 0 END AS f_len,
           CASE WHEN substr(surf_a, 1, 2) = substr(surf_b, 1, 2)
                THEN 1 ELSE 0 END AS f_pre2
    FROM pf
),
fsst AS (
    SELECT m, 'tok_overlap' AS feature, f_tok AS agree FROM fslab
    UNION ALL SELECT m, 'shingle_jaccard', f_jac FROM fslab
    UNION ALL SELECT m, 'len_diff_le1', f_len FROM fslab
    UNION ALL SELECT m, 'prefix2_eq', f_pre2 FROM fslab
)
SELECT feature,
       CAST(sum(m) AS BIGINT) AS n_match,
       CAST(sum(m * agree) AS BIGINT) AS n_match_agree,
       CAST(sum(1 - m) AS BIGINT) AS n_nonmatch,
       CAST(sum((1 - m) * agree) AS BIGINT) AS n_nonmatch_agree
FROM fsst
GROUP BY feature
"""


def kg_msf(model: str = "a100", rounds: int = 2) -> str:
    """Borůvka MSF twin (pipeline/er.py boruvka_msf): integer
    dissimilarity w = 1000000 // n_sents with (w, src>dst) total order,
    per round a (component)-partitioned min-edge window over both
    directions, then a RECURSIVE min-label fixpoint over the selected
    component-contraction edges (= the star loop's certificate)."""
    body = f"""
WITH RECURSIVE eg AS ({kg_cooccurrence(model)})
, me AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst,
           CAST(1000000 // n_sents AS BIGINT) AS w,
           ent_a || '|' || type_a || '>' || ent_b || '|' || type_b AS ekey
    FROM eg
),
mc0 AS (
    SELECT k, k AS comp FROM (
        SELECT src AS k FROM me UNION SELECT dst FROM me
    )
)"""
    mats = ["me", "mc0"]
    outs = []
    for r in range(1, int(rounds) + 1):
        p = r - 1
        body += f""",
mcand{r} AS (
    SELECT m.src, m.dst, m.w, m.ekey, c1.comp AS pca, c2.comp AS pcb
    FROM me m
    JOIN mc{p} c1 ON c1.k = m.src
    JOIN mc{p} c2 ON c2.k = m.dst
    WHERE c1.comp <> c2.comp
),
msel{r} AS (
    SELECT DISTINCT src, dst, w, ekey, pca, pcb FROM (
        SELECT *, row_number() OVER (PARTITION BY c ORDER BY w, ekey) AS rn
        FROM (
            SELECT pca AS c, src, dst, w, ekey, pca, pcb FROM mcand{r}
            UNION ALL
            SELECT pcb, src, dst, w, ekey, pca, pcb FROM mcand{r}
        )
    ) WHERE rn = 1
),
mreach{r} AS (
    SELECT comp AS node, comp AS lab FROM (SELECT DISTINCT comp FROM mc{p})
    UNION
    SELECT e.b AS node, q.lab
    FROM mreach{r} q JOIN (
        SELECT pca AS a, pcb AS b FROM msel{r}
        UNION ALL
        SELECT pcb, pca FROM msel{r}
    ) e ON e.a = q.node
),
mnew{r} AS (SELECT node, min(lab) AS comp FROM mreach{r} GROUP BY node),
mc{r} AS (
    SELECT c.k, n.comp FROM mc{p} c JOIN mnew{r} n ON n.node = c.comp
)"""
        outs.append(
            f"SELECT split_part(src, '|', 1) AS ent_a,"
            f" split_part(src, '|', 2) AS type_a,"
            f" split_part(dst, '|', 1) AS ent_b,"
            f" split_part(dst, '|', 2) AS type_b,"
            f" w, CAST({r} AS BIGINT) AS round FROM msel{r}"
        )
        mats += [f"mcand{r}", f"msel{r}", f"mnew{r}", f"mc{r}"]
    body += f"""
{chr(10).join(o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
"""
    return _materialize(body, *mats[: -1])


def txt_bm25(query_terms: tuple[str, ...] = ("join", "table", "spark"),
             k: int = 10) -> str:
    """BM25 twin (ops/textstats.bm25_topk): identical float association
    order and the 9dp-round BIGINT per (doc, term), integer-summed per
    doc (the txt_tfidf determinism precedent), (score DESC, doc ASC)
    top-``k``."""
    qlist = ", ".join(f"'{t}'" for t in query_terms)
    return _materialize(
        f"""
WITH barr AS (
    SELECT doc_id,
           list_transform(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x <> ''), x -> lower(x)) AS arr
    FROM documents
),
bdl AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS dl FROM barr),
btot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(arr)) AS BIGINT) AS total_tokens
    FROM barr
),
btf AS (
    SELECT doc_id, u.t AS term, CAST(count(*) AS BIGINT) AS tf
    FROM barr, UNNEST(arr) AS u(t)
    WHERE u.t IN ({qlist})
    GROUP BY doc_id, u.t
),
bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM btf GROUP BY term),
bscored AS (
    SELECT t.doc_id,
           CAST(round(
               ln(1.0 + (CAST(o.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                        / (CAST(d.df AS DOUBLE) + 0.5))
               * (CAST(t.tf AS DOUBLE) * 2.2)
               / (CAST(t.tf AS DOUBLE)
                  + 1.2 * (0.25 + 0.75 * CAST(l.dl AS DOUBLE)
                                  * CAST(o.n_docs AS DOUBLE)
                                  / CAST(o.total_tokens AS DOUBLE)))
               * 1e9) AS BIGINT) AS score_i9
    FROM btf t JOIN bdf d USING (term) JOIN bdl l USING (doc_id), btot o
),
bdoc AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(score_i9) AS BIGINT) AS bm25_i9
    FROM bscored GROUP BY doc_id
)
SELECT doc_id, n_terms_hit, bm25_i9, rnk FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY bm25_i9 DESC, doc_id ASC)
                   AS BIGINT) AS rnk
    FROM bdoc
) WHERE rnk <= {int(k)}
""",
        "barr", "btf",
    )


def kg_taxonomy_depth(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Ontology-depth twin (pipeline/taxonomy.taxonomy_depth): roots =
    hypers never occurring as a hypo in the capped closure; depth = max
    hops to any root, n_roots = distinct root ancestors; roots report
    (0, 0)."""
    return f"""
WITH clo AS ({kg_taxonomy_closure(mod, hypo_terms, hyper_terms,
                                  hyper2_terms, max_hops)}),
tdroots AS (
    SELECT DISTINCT hyper AS node FROM clo
    WHERE hyper NOT IN (SELECT DISTINCT hypo FROM clo)
),
tddepth AS (
    SELECT c.hypo AS node, CAST(max(c.hops) AS BIGINT) AS depth,
           CAST(count(DISTINCT c.hyper) AS BIGINT) AS n_roots
    FROM clo c JOIN tdroots r ON r.node = c.hyper
    GROUP BY c.hypo
)
SELECT node, depth, n_roots FROM tddepth
UNION ALL
SELECT node, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM tdroots
"""


def dedup_ppjoin(k: int = 3, tau_ppm: int = 500_000) -> str:
    """PPJoin twin (ops/dedup.ppjoin_pairs): (df ASC, shingle ASC) global
    token order, per-doc prefix length n - ceil(tau*n) + 1 (exact integer
    ceil), prefix-token candidate join, exact cross-multiplied Jaccard
    verify."""
    return _materialize(
        f"""
WITH {_SHINGLES_CTE.strip()},
ppdf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df
         FROM sh GROUP BY shingle),
ppsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
         FROM sh GROUP BY doc_id),
ppr AS (
    SELECT s.doc_id, s.shingle,
           CAST(row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY d.df ASC, s.shingle ASC)
                AS BIGINT) AS rn,
           z.n_sh
    FROM sh s JOIN ppdf d USING (shingle) JOIN ppsz z USING (doc_id)
),
pppre AS (
    SELECT doc_id, shingle FROM ppr
    WHERE rn <= n_sh - (({int(tau_ppm)} * n_sh + 999999) // 1000000) + 1
),
ppcand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pppre a JOIN pppre b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
ppcom AS (
    SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
    FROM ppcand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY c.doc_a, c.doc_b
)
SELECT p.doc_a, p.doc_b, p.n_common,
       za.n_sh AS n_a, zb.n_sh AS n_b
FROM ppcom p
JOIN ppsz za ON za.doc_id = p.doc_a
JOIN ppsz zb ON zb.doc_id = p.doc_b
WHERE p.n_common * 1000000 >= {int(tau_ppm)} * (za.n_sh + zb.n_sh - p.n_common)
""",
        "sh", "pppre", "ppcand",
    )


def kg_pra(model: str = "a100") -> str:
    """PRA feature-table twin (pipeline/er.py pra_features): the
    kg_paths_2hop product (cycles excluded) aggregated to path types,
    left-joined against the min-predicate direct-edge aggregate of the
    support table."""
    return f"""
WITH pth AS ({kg_paths_2hop(model)}),
ts AS ({kg_triple_support(model)}),
prf AS (
    SELECT a_id, c_id, pred_ab, pred_bc,
           CAST(count(*) AS BIGINT) AS n_paths,
           CAST(count(DISTINCT mid_id) AS BIGINT) AS n_mids
    FROM pth WHERE is_cycle = 0
    GROUP BY a_id, c_id, pred_ab, pred_bc
),
prd AS (
    SELECT subj_id AS a_id, obj_id AS c_id, min(pred) AS direct_pred
    FROM ts GROUP BY subj_id, obj_id
)
SELECT f.a_id, f.c_id, f.pred_ab, f.pred_bc, f.n_paths, f.n_mids,
       CAST(CASE WHEN d.direct_pred IS NULL THEN 0 ELSE 1 END AS BIGINT)
           AS known_link,
       COALESCE(d.direct_pred, '') AS direct_pred
FROM prf f LEFT JOIN prd d ON d.a_id = f.a_id AND d.c_id = f.c_id
"""


def txt_rake(max_phrase: int = 3, topk: int = 15) -> str:
    """RAKE twin (ops/textstats.rake_keyphrases): stopword-delimited
    maximal runs (length-capped), deg/freq word scores 9dp-rounded,
    integer phrase sums, (score DESC, phrase ASC) top-``topk``."""
    return _materialize(
        f"""
WITH rktoks AS (
    SELECT doc_id,
           list_transform(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x <> ''), x -> lower(x)) AS arr
    FROM documents
),
rkpos AS (
    SELECT doc_id, arr[CAST(i AS INT)] AS word, i - 1 AS pos
    FROM (SELECT doc_id, arr,
                 unnest(generate_series(1, len(arr))) AS i
          FROM rktoks)
),
rkflag AS (
    SELECT doc_id, word, pos,
           (word IN (SELECT unnest({_EN_SW}))
            OR NOT regexp_matches(word, '^[a-z][a-z0-9-]*$')) AS is_stop
    FROM rkpos
),
rkruns AS (
    SELECT doc_id, word, pos,
           pos - sum(CASE WHEN is_stop THEN 0 ELSE 1 END)
                     OVER (PARTITION BY doc_id ORDER BY pos) AS run_id,
           is_stop
    FROM rkflag
),
rkcap AS (
    SELECT doc_id, run_id, word, pos,
           row_number() OVER (PARTITION BY doc_id, run_id
                              ORDER BY pos) AS prank
    FROM rkruns WHERE NOT is_stop
),
rkph AS (
    SELECT doc_id, run_id,
           string_agg(word, ' ' ORDER BY pos) AS phrase,
           CAST(count(*) AS BIGINT) AS n_words
    FROM rkcap WHERE prank <= {int(max_phrase)}
    GROUP BY doc_id, run_id
),
rkw AS (
    SELECT unnest(string_split(phrase, ' ')) AS word, n_words FROM rkph
),
rkws AS (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(n_words) AS BIGINT) AS deg
    FROM rkw GROUP BY word
),
rkwsc AS (
    SELECT word,
           CAST(round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE) * 1e9)
                AS BIGINT) AS wscore_i9
    FROM rkws
),
rkpsc AS (
    SELECT p.phrase, p.n_words,
           CAST(sum(w.wscore_i9) AS BIGINT) AS one_score
    FROM (
        SELECT phrase, n_words,
               unnest(string_split(phrase, ' ')) AS word
        FROM (SELECT DISTINCT phrase, n_words FROM rkph)
    ) p JOIN rkwsc w USING (word)
    GROUP BY p.phrase, p.n_words
),
rkagg AS (
    SELECT o.phrase, s.n_words,
           CAST(count(*) AS BIGINT) AS n_occurrences, s.one_score
    FROM rkph o JOIN rkpsc s ON s.phrase = o.phrase
    GROUP BY o.phrase, s.n_words, s.one_score
)
SELECT phrase, n_words, n_occurrences, one_score AS score_i9, rnk FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY one_score DESC, phrase ASC)
                   AS BIGINT) AS rnk
    FROM rkagg
) WHERE rnk <= {int(topk)}
""",
        "rkph", "rkws",
    )


_INFER_SPLICE_SQL = """
isplice AS (
    SELECT 'e' || lpad(CAST(a AS VARCHAR), 2, '0') AS subj,
           (['knows','trusts','likes','reaches','near'])[m + 1] AS pred_norm,
           'e' || lpad(CAST((a + ([1,1,11,2,4])[m + 1]) % 12 AS VARCHAR),
                       2, '0') AS obj
    FROM (
        SELECT (doc_id // 5) % 12 AS a, CAST(doc_id % 5 AS INT) AS m
        FROM documents
    )
    WHERE NOT (m = 1 AND a % 4 = 0) AND NOT (m = 2 AND a % 4 = 1)
)"""


def kg_inferred_triples(
    model: str = "a100", min_conf_ppm: int = 500000, min_joint: int = 2
) -> str:
    """Forward-chaining twin (pipeline/triples.apply_rules): mine the
    2-atom rules exactly as kg_rule_mining does (over production triples
    UNION the INFERENCE splice — the rule splice with deterministic HOLES
    punched in trusts/likes so the anti-join leaves real candidates),
    keep rules by (conf_ppm, n_joint), instantiate fwd/inv over the fact
    table, drop self-loops, anti-join existing facts, aggregate per
    candidate."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
{_INFER_SPLICE_SQL.strip()},
facts AS (
    SELECT DISTINCT subj, pred_norm, obj FROM (
        SELECT subj, pred_norm, obj FROM trip
        UNION ALL SELECT subj, pred_norm, obj FROM isplice
    )
),
np AS (
    SELECT pred_norm AS p, CAST(count(*) AS BIGINT) AS n_p
    FROM facts GROUP BY pred_norm
),
fwd AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'fwd' AS direction
    FROM facts a JOIN facts b ON a.subj = b.subj AND a.obj = b.obj
    WHERE a.pred_norm <> b.pred_norm
    GROUP BY a.pred_norm, b.pred_norm
),
inv AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'inv' AS direction
    FROM facts a JOIN facts b ON a.subj = b.obj AND a.obj = b.subj
    WHERE a.subj <> a.obj
    GROUP BY a.pred_norm, b.pred_norm
),
u AS (SELECT * FROM fwd UNION ALL SELECT * FROM inv),
keep AS (
    SELECT u.p, u.q, u.direction,
           CAST(u.n_joint * 1000000 // np.n_p AS BIGINT) AS conf_ppm
    FROM u JOIN np ON np.p = u.p
    WHERE u.n_joint * 1000000 >= {int(min_conf_ppm)} * np.n_p
      AND u.n_joint >= {int(min_joint)}
),
cand AS (
    SELECT f.subj AS subj, r.q AS pred_norm, f.obj AS obj,
           r.p, r.direction, r.conf_ppm
    FROM facts f JOIN keep r ON r.p = f.pred_norm AND r.direction = 'fwd'
    UNION ALL
    SELECT f.obj AS subj, r.q AS pred_norm, f.subj AS obj,
           r.p, r.direction, r.conf_ppm
    FROM facts f JOIN keep r ON r.p = f.pred_norm AND r.direction = 'inv'
    WHERE f.subj <> f.obj
)
SELECT c.subj, c.pred_norm, c.obj,
       CAST(count(DISTINCT c.p || '->' || c.direction) AS BIGINT) AS n_rules,
       CAST(max(c.conf_ppm) AS BIGINT) AS max_conf_ppm,
       array_to_string(list_sort(list_distinct(list(c.p))), '|') AS src_preds
FROM cand c
WHERE c.subj <> c.obj
  AND NOT EXISTS (
      SELECT 1 FROM facts f
      WHERE f.subj = c.subj AND f.pred_norm = c.pred_norm AND f.obj = c.obj
  )
GROUP BY c.subj, c.pred_norm, c.obj
""",
        "facts", "keep",
    )


_CLAIMS_SPLICE_SQL = """
tdc AS (
    SELECT DISTINCT 's' || CAST(s AS VARCHAR) AS src,
           'q' || lpad(CAST(k AS VARCHAR), 2, '0') AS subj,
           'capital_of' AS pred_norm,
           CASE WHEN k = 1 AND s >= 7 THEN 'f01'
                WHEN k = 1 THEN 't01'
                WHEN s >= 7 AND k % 2 = 0
                    THEN 'f' || lpad(CAST(k AS VARCHAR), 2, '0')
                ELSE 't' || lpad(CAST(k AS VARCHAR), 2, '0') END AS obj
    FROM (
        SELECT doc_id % 10 AS s, (doc_id // 10) % 20 AS k FROM documents
    )
    WHERE k <> 1 OR s IN (0, 1, 7, 8, 9)
)"""


def kg_truth_discovery() -> str:
    """Truth-discovery twin (pipeline/triples.truth_discovery): distinct
    claims (the deterministic claim splice — sources s7-s9 lie on even
    keys; on key 1 only {s0,s1,s7,s8,s9} claim so the naive majority is
    the lie and quality weighting flips it), per-(subj,pred) majority,
    source quality_ppm, quality-weighted re-vote."""
    return _materialize(
        f"""
WITH {_CLAIMS_SPLICE_SQL.strip()},
votes AS (
    SELECT subj, pred_norm, obj, CAST(count(*) AS BIGINT) AS n_src
    FROM tdc GROUP BY subj, pred_norm, obj
),
maj AS (
    SELECT subj, pred_norm, obj AS majority_obj FROM (
        SELECT *, row_number() OVER (
            PARTITION BY subj, pred_norm ORDER BY n_src DESC, obj ASC
        ) AS mrk FROM votes
    ) WHERE mrk = 1
),
srcq AS (
    SELECT c.src,
           CAST(sum(CASE WHEN c.obj = m.majority_obj THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS quality_ppm
    FROM tdc c JOIN maj m USING (subj, pred_norm)
    GROUP BY c.src
),
scored AS (
    SELECT c.subj, c.pred_norm, c.obj,
           CAST(count(*) AS BIGINT) AS n_sources,
           CAST(sum(q.quality_ppm) AS BIGINT) AS score_sum
    FROM tdc c JOIN srcq q USING (src)
    GROUP BY c.subj, c.pred_norm, c.obj
)
SELECT s.subj, s.pred_norm, s.obj, s.n_sources, s.score_sum,
       m.majority_obj,
       CAST(CASE WHEN s.obj <> m.majority_obj THEN 1 ELSE 0 END AS BIGINT)
           AS changed
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY subj, pred_norm ORDER BY score_sum DESC, obj ASC
    ) AS wrk FROM scored
) s JOIN maj m USING (subj, pred_norm)
WHERE s.wrk = 1
""",
        "tdc", "maj",
    )


def kg_coloring(model: str = "a100", rounds: int = 3) -> str:
    """Jones-Plassmann coloring twin (pipeline/er.py jp_coloring): the MIS
    local-minimum winner rule per round, winners take the mex of their
    already-colored neighbors' colors (exact list_reduce fold over the
    sorted distinct color list — the engine's F.aggregate twin);
    ``rounds`` unrolled, horizon leftovers 'open' with color -1."""
    prio = _hex8_int_sql("md5(k)")
    mexf = (
        "coalesce(list_reduce(list_prepend(CAST(0 AS BIGINT), ncs), "
        "(acc, x) -> CASE WHEN x = acc THEN acc + 1 ELSE acc END), "
        "CAST(0 AS BIGINT))"
    )
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
u0 AS (
    SELECT k, {prio} AS prio FROM (SELECT DISTINCT src AS k FROM sym)
)"""
    prev = "u0"
    mats = ["sym", "u0"]
    colored_prev = None
    for r in range(1, int(rounds) + 1):
        body += f""",
w{r} AS (
    SELECT u.k FROM {prev} u
    WHERE NOT EXISTS (
        SELECT 1 FROM sym s JOIN {prev} v ON v.k = s.dst
        WHERE s.src = u.k
          AND (v.prio < u.prio OR (v.prio = u.prio AND v.k < u.k))
    )
)"""
        if colored_prev is None:
            body += f""",
c{r} AS (
    SELECT k, CAST(0 AS BIGINT) AS color, CAST(1 AS BIGINT) AS round FROM w{r}
),
col{r} AS (SELECT k, color, round FROM c{r})"""
        else:
            body += f""",
used{r} AS (
    SELECT s.src AS k, list_sort(list(DISTINCT c.color)) AS ncs
    FROM sym s
    JOIN w{r} w ON w.k = s.src
    JOIN {colored_prev} c ON c.k = s.dst
    GROUP BY s.src
),
c{r} AS (
    SELECT w.k, {mexf} AS color, CAST({r} AS BIGINT) AS round
    FROM w{r} w LEFT JOIN used{r} u2 ON u2.k = w.k
),
col{r} AS (
    SELECT k, color, round FROM {colored_prev}
    UNION ALL
    SELECT k, color, round FROM c{r}
)"""
            mats.append(f"used{r}")
        body += f""",
u{r} AS (
    SELECT u.k, u.prio FROM {prev} u
    WHERE NOT EXISTS (SELECT 1 FROM w{r} w WHERE w.k = u.k)
)"""
        mats += [f"w{r}", f"c{r}", f"col{r}", f"u{r}"]
        prev = f"u{r}"
        colored_prev = f"col{r}"
    body += f""",
allout AS (
    SELECT k, 'colored' AS status, round, color FROM {colored_prev}
    UNION ALL
    SELECT k, 'open', CAST({int(rounds)} AS BIGINT), CAST(-1 AS BIGINT)
    FROM {prev}
)
SELECT split_part(k, '|', 1) AS ent, split_part(k, '|', 2) AS etype,
       status, round, color
FROM allout
"""
    return _materialize(body, *mats[:-1])


def kg_katz(model: str = "a100") -> str:
    """Truncated Katz twin (pipeline/er.py katz_index): symmetrized
    adjacency, relay nodes degree-capped by the shared exact cube root
    clamp [16, 4096], three chained hop joins counting directed walks,
    unordered (a < b) pair aggregate, exact ppm score
    500000*n1 + 250000*n2 + 125000*n3."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c FROM sym))"
    )
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, sym AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst FROM eg
    UNION ALL
    SELECT ent_b || '|' || type_b, ent_a || '|' || type_a FROM eg
),
kdeg AS (SELECT src AS k, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
kok AS (SELECT k FROM kdeg WHERE deg <= {cap}),
h1 AS (SELECT src AS a, dst AS x FROM sym),
h2 AS (
    SELECT h1.a, s.dst AS x
    FROM h1 JOIN kok ON kok.k = h1.x JOIN sym s ON s.src = h1.x
),
h3 AS (
    SELECT h2.a, s.dst AS x
    FROM h2 JOIN kok ON kok.k = h2.x JOIN sym s ON s.src = h2.x
),
lv AS (
    SELECT a, x AS b, 1 AS level FROM h1
    UNION ALL SELECT a, x, 2 FROM h2
    UNION ALL SELECT a, x, 3 FROM h3
),
kagg AS (
    SELECT a, b,
           CAST(sum(CASE WHEN level = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN level = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN level = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
    FROM lv WHERE a < b GROUP BY a, b
)
SELECT split_part(a, '|', 1) AS ent_a, split_part(a, '|', 2) AS type_a,
       split_part(b, '|', 1) AS ent_b, split_part(b, '|', 2) AS type_b,
       n1, n2, n3,
       CAST(500000 * n1 + 250000 * n2 + 125000 * n3 AS BIGINT) AS katz_ppm
FROM kagg
""",
        "sym", "kdeg", "kok", "h1", "h2", "h3",
    )


def kg_acronyms(
    mod: int,
    valid_rem: int,
    bogus_rem: int,
    long_terms: list[str],
    short_terms: list[str],
    bogus_short: str,
) -> str:
    """Acronym-definition twin (pipeline/taxonomy.acronym_pairs): the
    engine's ACRO_PAT imported verbatim, last-len(acro)-words initialism
    validation via list_slice/list_transform (the F.slice/F.transform
    twins), long form trimmed to the matched words and lowercased, one
    aggregate. The deterministic splice (valid definition on
    doc_id % mod = valid_rem, initials-MISMATCHED candidate on
    doc_id % mod = bogus_rem — the branch the validation must kill) is
    replayed byte-identically."""
    from unsupervised_ner_spark.pipeline.taxonomy import ACRO_PAT

    # DuckDB single-quoted literals do NOT process backslash escapes, so
    # the Java-regex string embeds verbatim (only quotes need doubling).
    pat = ACRO_PAT.replace("'", "''")
    long_arr = "[" + ", ".join(f"'{t}'" for t in long_terms) + "]"
    short_arr = "[" + ", ".join(f"'{t}'" for t in short_terms) + "]"
    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH picked AS (
    SELECT doc_id, text,
           ({long_arr})[CAST(doc_id % {len(long_terms)} AS INT) + 1] AS lf,
           ({short_arr})[CAST(doc_id % {len(short_terms)} AS INT) + 1] AS sf
    FROM documents
),
docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = {valid_rem}
                THEN text || chr(10) || lf || ' (' || sf || ') appeared'
                WHEN doc_id % {mod} = {bogus_rem}
                THEN text || chr(10) || lf || ' ({bogus_short}) appeared'
                ELSE text END AS text
    FROM picked
),
{sents.strip()},
cand AS (
    SELECT url,
           trim(regexp_extract(sent, '{pat}', 1)) AS lf,
           regexp_extract(sent, '{pat}', 2) AS acro
    FROM sents
),
cw AS (
    SELECT url, acro, string_split(lf, ' ') AS words, length(acro) AS n
    FROM cand WHERE length(acro) > 0
),
cv AS (
    SELECT url, acro,
           CASE WHEN len(words) >= n
                THEN array_to_string(list_transform(
                         list_slice(words, len(words) - n + 1, len(words)),
                         t -> upper(left(t, 1))), '')
           END AS initials,
           CASE WHEN len(words) >= n
                THEN lower(array_to_string(
                         list_slice(words, len(words) - n + 1, len(words)), ' '))
           END AS long_norm
    FROM cw
)
SELECT acro, long_norm,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM cv WHERE initials = acro
GROUP BY acro, long_norm
"""


def kg_topo_layers(
    model: str = "a100", inner_rounds: int = 3, outer_rounds: int = 2,
    rounds: int = 5,
) -> str:
    """Kahn-layering twin (pipeline/er.py topo_layers): the full kg_scc +
    condensation body, node set = condensation-edge endpoints, then
    ``rounds`` unrolled zero-indegree peels (layer = round - 1); nodes
    still alive at the horizon — unproven-cycle opens — emit
    ('open', -1)."""
    tail = """, sclab AS (
    SELECT k, CASE WHEN status = 'scc' THEN scc_id ELSE k END AS lab
    FROM sccout
),
cond AS (
    SELECT DISTINCT a.lab AS src, b.lab AS dst
    FROM dedges d JOIN sclab a ON a.k = d.src JOIN sclab b ON b.k = d.dst
    WHERE a.lab <> b.lab
),
tn0 AS (SELECT DISTINCT src AS k FROM cond UNION SELECT DISTINCT dst FROM cond),
te0 AS (SELECT src, dst FROM cond)"""
    outs = []
    mats = ["sclab", "cond", "tn0", "te0"]
    for r in range(1, int(rounds) + 1):
        tail += f""",
ts{r} AS (
    SELECT k FROM tn{r - 1} n
    WHERE NOT EXISTS (SELECT 1 FROM te{r - 1} e WHERE e.dst = n.k)
),
tn{r} AS (
    SELECT k FROM tn{r - 1} n
    WHERE NOT EXISTS (SELECT 1 FROM ts{r} s WHERE s.k = n.k)
),
te{r} AS (
    SELECT src, dst FROM te{r - 1} e
    WHERE NOT EXISTS (SELECT 1 FROM ts{r} s WHERE s.k = e.src)
)"""
        outs.append(
            f"SELECT k, 'layered' AS status, CAST({r - 1} AS BIGINT) AS layer"
            f" FROM ts{r}"
        )
        mats += [f"ts{r}", f"tn{r}", f"te{r}"]
    outs.append(f"SELECT k, 'open', CAST(-1 AS BIGINT) FROM tn{int(rounds)}")
    tail += """,
topoout AS (
""" + "\n    UNION ALL\n".join("    " + o for o in outs) + """
)
SELECT k AS scc, status, layer FROM topoout"""
    return _materialize(
        kg_scc(model, inner_rounds, outer_rounds, tail=tail), *mats[:-1]
    )


def txt_good_turing() -> str:
    """Good-Turing fof twin (ops/textstats.py good_turing_fof): lowered
    whitespace tokens, term-frequency aggregate, N_r table, N_{r+1}
    self-join with coalesce-0."""
    return _materialize(
        """
WITH gtk AS (
    SELECT lower(u.t) AS tok
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
gtf AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM gtk GROUP BY tok),
gfof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_types FROM gtf GROUP BY r)
SELECT f.r AS freq, f.n_types,
       CAST(f.r * f.n_types AS BIGINT) AS n_tokens,
       CAST(coalesce(nx.gt_num, 0) AS BIGINT) AS gt_num
FROM gfof f
LEFT JOIN (
    SELECT r - 1 AS r, CAST(r * n_types AS BIGINT) AS gt_num FROM gfof
) nx ON nx.r = f.r
""",
        "gtf", "gfof",
    )


def rel_bloom_semijoin(m: int = 1024, k: int = 2) -> str:
    """Bloom semi-join audit twin (ops/layout.py bloom_semijoin_stats over
    orders probed against BUILDING customers): k md5 positions mod m per
    key (nibble-exact _hex8_int_sql), distinct build bit set, probe
    all-positions membership, truth flag via the distinct build keys,
    3-group aggregate + constant bit-density column."""
    def pos(key_expr: str, i: int) -> str:
        return (
            "("
            + _hex8_int_sql(f"md5(CAST({key_expr} AS VARCHAR) || '#{i}')")
            + f") % {int(m)}"
        )

    hit_joins = "\n".join(
        f"    LEFT JOIN bbits b{i} ON b{i}.bit = p.p{i}" for i in range(int(k))
    )
    allhit = " AND ".join(f"b{i}.bit IS NOT NULL" for i in range(int(k)))
    probe_pos = ",\n           ".join(
        f"{pos('o_custkey', i)} AS p{i}" for i in range(int(k))
    )
    build_pos = ", ".join(pos("key", i) for i in range(int(k)))
    return _materialize(
        f"""
WITH bkeys AS (
    SELECT DISTINCT c_custkey AS key FROM customer
    WHERE c_mktsegment = 'BUILDING'
),
bbits AS (
    SELECT DISTINCT u.bit FROM bkeys, UNNEST([{build_pos}]) AS u(bit)
),
bprobe AS (
    SELECT o_custkey AS key,
           {probe_pos}
    FROM orders
),
bflag AS (
    SELECT CAST(CASE WHEN {allhit} THEN 1 ELSE 0 END AS BIGINT) AS bloom_pass,
           CAST(CASE WHEN t.key IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_match
    FROM bprobe p
{hit_joins}
    LEFT JOIN bkeys t ON t.key = p.key
)
SELECT bloom_pass, is_match, CAST(count(*) AS BIGINT) AS n_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM bbits) AS n_bits_set
FROM bflag GROUP BY bloom_pass, is_match
""",
        "bkeys", "bbits",
    )


def txt_c4_filters(
    lorem_rem: int, brace_rem: int, policy_rem: int, mod: int = 7,
    min_long_lines: int = 1, min_line_words: int = 5,
) -> str:
    """C4 named-rule twin (ops/textstats.py c4_filters): line statistics
    over the newline-split trimmed non-blank lines, blocklist flags,
    conjunction keep; the deterministic splice (lorem / brace / policy
    lines on three doc_id residues) replayed byte-identically."""
    from unsupervised_ner_spark.ops.textstats import C4_POLICY_PHRASES

    policy = " AND ".join(
        f"lower(text) NOT LIKE '%{p}%'" for p in C4_POLICY_PHRASES
    )
    nw = ("len(list_filter(regexp_split_to_array(l, '\\s+'), "
          "x -> x <> ''))")
    return f"""
WITH docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = {lorem_rem}
                THEN text || chr(10) || 'lorem ipsum dolor sit amet consectetur'
                WHEN doc_id % {mod} = {brace_rem}
                THEN text || chr(10) || 'function() {{ return 1; }}'
                WHEN doc_id % {mod} = {policy_rem}
                THEN text || chr(10)
                     || 'please review our cookie policy before continuing.'
                ELSE text END AS text
    FROM documents
),
c4l AS (
    SELECT doc_id, text,
           list_filter(list_transform(string_split(text, chr(10)),
                                      l -> trim(l)),
                       l -> length(l) > 1) AS lines
    FROM docs2
),
c4s AS (
    SELECT doc_id, text,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines,
                l -> {nw} >= {min_line_words})) AS BIGINT) AS n_long_lines,
           CAST(len(list_filter(lines,
                l -> regexp_matches(l, '[.!?]$'))) AS BIGINT)
               AS n_terminal_lines
    FROM c4l
)
SELECT doc_id, n_lines, n_long_lines, n_terminal_lines,
       CAST(CASE WHEN lower(text) NOT LIKE '%lorem ipsum%'
                 THEN 1 ELSE 0 END AS BIGINT) AS f_lorem,
       CAST(CASE WHEN text NOT LIKE '%{{%' THEN 1 ELSE 0 END AS BIGINT)
           AS f_brace,
       CAST(CASE WHEN {policy} THEN 1 ELSE 0 END AS BIGINT) AS f_policy,
       CAST(CASE WHEN n_long_lines >= {min_long_lines}
                 THEN 1 ELSE 0 END AS BIGINT) AS f_minlines,
       CAST(CASE WHEN lower(text) NOT LIKE '%lorem ipsum%'
                  AND text NOT LIKE '%{{%' AND ({policy})
                  AND n_long_lines >= {min_long_lines}
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM c4s
"""


def kg_role_facts(
    mod: int, person_terms: list[str], role_terms: list[str],
    org_terms: list[str],
) -> str:
    """Role-pattern twin (pipeline/triples.py role_pattern_facts): the
    engine's ROLE_PAT imported verbatim, entities lowercased, one
    aggregate; the "<P>, <role> of <O>, said so" splice replayed
    byte-identically."""
    from unsupervised_ner_spark.pipeline.triples import ROLE_PAT

    pat = ROLE_PAT.replace("'", "''")
    p_arr = "[" + ", ".join(f"'{t}'" for t in person_terms) + "]"
    r_arr = "[" + ", ".join(f"'{t}'" for t in role_terms) + "]"
    o_arr = "[" + ", ".join(f"'{t}'" for t in org_terms) + "]"
    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH picked AS (
    SELECT doc_id, text,
           ({p_arr})[CAST(doc_id % {len(person_terms)} AS INT) + 1] AS p,
           ({r_arr})[CAST(doc_id % {len(role_terms)} AS INT) + 1] AS r,
           ({o_arr})[CAST(doc_id % {len(org_terms)} AS INT) + 1] AS o
    FROM documents
),
docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = 0
                THEN text || chr(10) || p || ', ' || r || ' of ' || o
                     || ', said so'
                ELSE text END AS text
    FROM picked
),
{sents.strip()},
cand AS (
    SELECT url,
           lower(regexp_extract(sent, '{pat}', 1)) AS subj,
           regexp_extract(sent, '{pat}', 2) AS role,
           lower(regexp_extract(sent, '{pat}', 3)) AS obj
    FROM sents
)
SELECT subj, role, obj,
       CAST(count(*) AS BIGINT) AS n_sents,
       CAST(count(DISTINCT url) AS BIGINT) AS n_docs
FROM cand WHERE length(subj) > 0 AND length(obj) > 0
GROUP BY subj, role, obj
"""


def kg_measurements(
    mod: int, rem: int, ent_terms: list[str], verb_terms: list[str],
    unit_terms: list[str],
) -> str:
    """Measurement twin (pipeline/triples.py measurement_facts): the
    engine's MEAS_PAT imported verbatim, integer base normalization per
    unit class (mm / mg / ppm); the "<E> <verb> <num> <unit>" splice
    (num = (doc_id * 7) % 240 + 1) replayed byte-identically."""
    from unsupervised_ner_spark.pipeline.triples import MEAS_PAT, MEAS_UNITS

    pat = MEAS_PAT.replace("'", "''")
    e_arr = "[" + ", ".join(f"'{t}'" for t in ent_terms) + "]"
    v_arr = "[" + ", ".join(f"'{t}'" for t in verb_terms) + "]"
    u_arr = "[" + ", ".join(f"'{t}'" for t in unit_terms) + "]"
    cls = " ".join(
        f"WHEN unit = '{u}' THEN '{c}'" for u, (c, _) in MEAS_UNITS.items()
    )
    mul = " ".join(
        f"WHEN unit = '{u}' THEN {k}" for u, (_, k) in MEAS_UNITS.items()
    )
    sents = SENTS_CTE.replace("FROM documents", "FROM docs2")
    assert "docs2" in sents
    return f"""
WITH picked AS (
    SELECT doc_id, text,
           ({e_arr})[CAST(doc_id % {len(ent_terms)} AS INT) + 1] AS e,
           ({v_arr})[CAST(doc_id % {len(verb_terms)} AS INT) + 1] AS v,
           ({u_arr})[CAST(doc_id % {len(unit_terms)} AS INT) + 1] AS u,
           CAST((doc_id * 7) % 240 + 1 AS BIGINT) AS num
    FROM documents
),
docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = {rem}
                THEN text || chr(10) || e || ' ' || v || ' '
                     || CAST(num AS VARCHAR) || ' ' || u
                ELSE text END AS text
    FROM picked
),
{sents.strip()},
mcand AS (
    SELECT url, sent_idx,
           lower(regexp_extract(sent, '{pat}', 1)) AS ent,
           regexp_extract(sent, '{pat}', 2) AS verb,
           regexp_extract(sent, '{pat}', 3) AS raw,
           regexp_extract(sent, '{pat}', 4) AS unit
    FROM sents
)
SELECT url, sent_idx, ent, verb,
       CAST(raw AS BIGINT) AS value_raw,
       unit,
       CASE {cls} END AS unit_class,
       CAST(CAST(raw AS BIGINT) * (CASE {mul} END) AS BIGINT) AS value_base
FROM mcand WHERE length(ent) > 0 AND length(raw) > 0
"""


def rel_funnel(
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    drop_mod: int = 5,
) -> str:
    """Conversion-funnel twin (ops/asof.py funnel_steps): per user the
    earliest step-1 event, then the earliest step-2 STRICTLY after it,
    then the earliest step-3 after that — min(t) per stage is exactly
    the engine's struct-min's time component (the (t, event_id)
    tie-break orders equal-time events but only t is extracted, so the
    engines agree by construction). Gaps in microseconds, -1 where the
    step was never reached; absolute epochs never hashed (the asof_join
    timezone rule). The gate filter deterministically drops user
    residues' click / purchase events so the reached_step 1 and 2
    branches fire (all 15 synth users otherwise complete the funnel,
    measured)."""
    s1, s2, s3 = steps
    return f"""
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS t FROM events
    WHERE NOT (user_id % {drop_mod} = 1 AND event_type = '{s2}')
      AND NOT (user_id % {drop_mod} = 2 AND event_type = '{s3}')
),
f1 AS (
    SELECT user_id, min(t) AS t1 FROM ev
    WHERE event_type = '{s1}' GROUP BY user_id
),
f2 AS (
    SELECT e.user_id, min(e.t) AS t2
    FROM ev e JOIN f1 USING (user_id)
    WHERE e.event_type = '{s2}' AND e.t > f1.t1 GROUP BY e.user_id
),
f3 AS (
    SELECT e.user_id, min(e.t) AS t3
    FROM ev e JOIN f2 USING (user_id)
    WHERE e.event_type = '{s3}' AND e.t > f2.t2 GROUP BY e.user_id
)
SELECT f1.user_id,
       CAST(1 + CAST(f2.user_id IS NOT NULL AS INT)
              + CAST(f3.user_id IS NOT NULL AS INT) AS BIGINT)
           AS reached_step,
       CAST(COALESCE(f2.t2 - f1.t1, -1) AS BIGINT) AS gap12_us,
       CAST(COALESCE(f3.t3 - f2.t2, -1) AS BIGINT) AS gap23_us
FROM f1 LEFT JOIN f2 USING (user_id) LEFT JOIN f3 USING (user_id)
"""


def rel_retention(
    period_days: int = 7,
    churn_mod: int = 3,
    churn_day: int = 19737,
    late_day: int = 19730,
) -> str:
    """Cohort-retention twin (ops/asof.py retention_cohorts): cohort =
    min activity period per user (wall-clock day index CAST(ts AS DATE) -
    DATE '1970-01-01' — timezone-free like Spark's datediff on the NTZ
    column — then exact integer floor-division), matrix = distinct
    cohort users per period offset, size = the structurally-present
    offset-0 row, retention_ppm = exact integer n*1e6 // size. The gate
    filter deterministically churns user residue 1 at ``churn_day`` and
    delays residue 2's first activity to ``late_day`` (every synth user
    is otherwise active in every week — measured), so retention decay
    AND a second cohort both fire."""
    day = "CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)"
    return f"""
WITH ract AS (
    SELECT DISTINCT user_id,
           {day} // {int(period_days)} AS period
    FROM events
    WHERE NOT (user_id % {int(churn_mod)} = 1 AND {day} >= {int(churn_day)})
      AND NOT (user_id % {int(churn_mod)} = 2 AND {day} < {int(late_day)})
),
rfirst AS (
    SELECT user_id, min(period) AS cohort_period FROM ract GROUP BY user_id
),
rmat AS (
    SELECT f.cohort_period, a.period - f.cohort_period AS period_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM ract a JOIN rfirst f USING (user_id)
    GROUP BY 1, 2
)
SELECT m.cohort_period, m.period_offset, m.n_users,
       s.n_users AS cohort_size,
       CAST(m.n_users * 1000000 // s.n_users AS BIGINT) AS retention_ppm
FROM rmat m JOIN rmat s
  ON s.cohort_period = m.cohort_period AND s.period_offset = 0
"""


def txt_vocab_drift(
    ratio_num: int = 2,
    a_splice: str = "archaism fading fading fading trending",
    b_splice: str = "neologism trending trending trending fading",
) -> str:
    """Vocabulary-drift twin (ops/textstats.py vocab_drift): even/odd
    doc_id snapshots, lowered whitespace unigrams, per-token (n_a, n_b)
    via conditional sums, totals as a 1-row cross join, drift class by
    exact integer cross-multiplication (never a float frequency). The
    uniform word-salad corpus is 100% 'stable' (measured), so the gate
    splices append snapshot-specific tokens — 'archaism' (A only ->
    gone), 'neologism' (B only -> new), 3:1 'trending' / 1:3 'fading'
    (past the 2x cross-multiplied ratio -> up / down)."""
    r = int(ratio_num)
    return _materialize(
        f"""
WITH vdocs AS (
    SELECT doc_id,
           text || CASE WHEN doc_id % 2 = 0
                        THEN ' {a_splice}' ELSE ' {b_splice}' END AS text
    FROM documents
),
vtk AS (
    SELECT doc_id % 2 = 0 AS in_a, lower(u.t) AS tok
    FROM vdocs,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
vper AS (
    SELECT tok,
           CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
    FROM vtk GROUP BY tok
),
vtot AS (
    SELECT CAST(sum(n_a) AS BIGINT) AS total_a,
           CAST(sum(n_b) AS BIGINT) AS total_b
    FROM vper
)
SELECT tok, n_a, n_b, total_a, total_b,
       CASE WHEN n_a = 0 THEN 'new'
            WHEN n_b = 0 THEN 'gone'
            WHEN n_b * total_a > {r} * n_a * total_b THEN 'up'
            WHEN n_a * total_b > {r} * n_b * total_a THEN 'down'
            ELSE 'stable' END AS drift
FROM vper CROSS JOIN vtot
""",
        "vper",
    )


def kg_matching(model: str = "a100", rounds: int = 2) -> str:
    """Parallel-greedy maximal-matching twin (pipeline/er.py
    maximal_matching): md5-int32 edge priorities (_hex8_int_sql), per
    round an edge is matched iff NO other alive edge sharing an endpoint
    precedes it in (priority, ekey) order (= the engine's min-at-both-
    endpoints rule — ekeys are unique, so local-min and no-smaller-
    neighbor coincide); alive edges touching a matched endpoint drop;
    ``rounds`` unrolled, leftovers 'open'."""
    prio = _hex8_int_sql("md5(ekey)")
    body = f"""
WITH eg AS ({kg_cooccurrence(model)})
, a0 AS (
    SELECT src, dst, ekey, {prio} AS prio
    FROM (
        SELECT ent_a || '|' || type_a AS src,
               ent_b || '|' || type_b AS dst,
               ent_a || '|' || type_a || '|' || ent_b || '|' || type_b
                   AS ekey
        FROM eg
    )
)"""
    prev = "a0"
    outs = []
    mats = ["a0"]
    for r in range(1, int(rounds) + 1):
        body += f""",
w{r} AS (
    SELECT e.src, e.dst, e.ekey FROM {prev} e
    WHERE NOT EXISTS (
        SELECT 1 FROM {prev} o
        WHERE o.ekey <> e.ekey
          AND (o.src = e.src OR o.src = e.dst
               OR o.dst = e.src OR o.dst = e.dst)
          AND (o.prio < e.prio OR (o.prio = e.prio AND o.ekey < e.ekey))
    )
),
n{r} AS (SELECT src AS node FROM w{r} UNION SELECT dst FROM w{r}),
x{r} AS (
    SELECT e.ekey FROM {prev} e
    WHERE NOT EXISTS (SELECT 1 FROM w{r} w WHERE w.ekey = e.ekey)
      AND (EXISTS (SELECT 1 FROM n{r} m WHERE m.node = e.src)
           OR EXISTS (SELECT 1 FROM n{r} m WHERE m.node = e.dst))
),
a{r} AS (
    SELECT e.* FROM {prev} e
    WHERE NOT EXISTS (SELECT 1 FROM w{r} w WHERE w.ekey = e.ekey)
      AND NOT EXISTS (SELECT 1 FROM x{r} x WHERE x.ekey = e.ekey)
)"""
        outs.append(
            f"SELECT ekey, 'matched' AS status,"
            f" CAST({r} AS BIGINT) AS round FROM w{r}"
        )
        outs.append(f"SELECT ekey, 'dropped', CAST({r} AS BIGINT) FROM x{r}")
        mats += [f"w{r}", f"n{r}", f"x{r}", f"a{r}"]
        prev = f"a{r}"
    outs.append(f"SELECT ekey, 'open', CAST({int(rounds)} AS BIGINT) FROM {prev}")
    body += f""",
mallout AS (
{chr(10).join('    ' + o + (' UNION ALL' if i < len(outs) - 1 else '') for i, o in enumerate(outs))}
)
SELECT split_part(ekey, '|', 1) AS ent_a, split_part(ekey, '|', 2) AS type_a,
       split_part(ekey, '|', 3) AS ent_b, split_part(ekey, '|', 4) AS type_b,
       status, round
FROM mallout
"""
    return _materialize(body, *mats[:-1])


def rel_transitions() -> str:
    """Clickstream-Markov twin (ops/asof.py event_transitions): per user
    lag/lead over (epoch micros, event_id) — epoch order equals NTZ
    wall-clock order whatever the session timezone, and only counts are
    hashed — '_start' head sentinel + per-user '_end' tail row, bounded
    (type x type) aggregate, from-state totals, exact integer ppm."""
    return """
WITH tseq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER w AS prev_type,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
ttr AS (
    SELECT coalesce(prev_type, '_start') AS from_type,
           event_type AS to_type
    FROM tseq
    UNION ALL
    SELECT event_type, '_end' FROM tseq WHERE next_type IS NULL
),
tmat AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_trans
    FROM ttr GROUP BY 1, 2
),
ttot AS (
    SELECT from_type, CAST(sum(n_trans) AS BIGINT) AS n_from
    FROM tmat GROUP BY 1
)
SELECT m.from_type, m.to_type, m.n_trans, t.n_from,
       CAST(m.n_trans * 1000000 // t.n_from AS BIGINT) AS trans_ppm
FROM tmat m JOIN ttot t USING (from_type)
"""


def kg_bipartite(model: str = "a100", rounds: int = 4) -> str:
    """Bipartiteness twin (pipeline/er.py bipartite_parity): components
    via the RECURSIVE min-reachable fixpoint (= the engine's star-loop
    certificate, the kg_graph_components precedent), BFS min-distance
    from each component's min-label root with ``rounds`` unrolled
    relaxations (first-reach frontier and min-relaxation agree on BFS
    distance), parity = dist % 2, odd edges = original undirected edges
    with both endpoints reached at equal parity, per-component
    accounting + the conservative within-horizon bipartite flag."""
    inner = kg_cooccurrence(model)
    body = f"""
WITH RECURSIVE eg AS ({inner})
, bek AS (
    SELECT ent_a || '|' || type_a AS ka, ent_b || '|' || type_b AS kb FROM eg
),
bnds AS (SELECT ka AS k FROM bek UNION SELECT kb AS k FROM bek),
bsym AS (
    SELECT ka AS a, kb AS b FROM bek UNION ALL SELECT kb AS a, ka AS b FROM bek
),
breach AS (
    SELECT k AS node, k AS lab FROM bnds
    UNION
    SELECT e.b AS node, r.lab FROM breach r JOIN bsym e ON e.a = r.node
),
bcomp AS (SELECT node, min(lab) AS component FROM breach GROUP BY node),
bd0 AS (
    SELECT DISTINCT component AS k, CAST(0 AS BIGINT) AS d FROM bcomp
)"""
    prev = "bd0"
    mats = ["bek", "bcomp", "bd0"]
    for i in range(1, int(rounds) + 1):
        body += f""",
bd{i} AS (
    SELECT k, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT k, d FROM {prev}
        UNION ALL
        SELECT s.b AS k, x.d + 1 AS d
        FROM bsym s JOIN {prev} x ON s.a = x.k
    ) GROUP BY k
)"""
        mats.append(f"bd{i}")
        prev = f"bd{i}"
    body += f""",
bpar AS (SELECT k, d % 2 AS par FROM {prev}),
bodd AS (
    SELECT c.component, CAST(count(*) AS BIGINT) AS n_odd_edges
    FROM bek e
    JOIN bpar pa ON pa.k = e.ka
    JOIN bpar pb ON pb.k = e.kb
    JOIN bcomp c ON c.node = e.ka
    WHERE pa.par = pb.par
    GROUP BY c.component
),
bre AS (
    SELECT c.component,
           CAST(count(*) AS BIGINT) AS comp_size,
           CAST(sum(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reached
    FROM bcomp c LEFT JOIN bpar p ON p.k = c.node
    GROUP BY c.component
)
SELECT r.component, r.comp_size, r.n_reached,
       CAST(r.comp_size - r.n_reached AS BIGINT) AS n_open,
       CAST(coalesce(o.n_odd_edges, 0) AS BIGINT) AS n_odd_edges,
       CAST(CASE WHEN r.comp_size = r.n_reached
                  AND o.n_odd_edges IS NULL THEN 1 ELSE 0 END AS BIGINT)
           AS bipartite
FROM bre r LEFT JOIN bodd o USING (component)
"""
    return _materialize(body, *mats)


def kg_lca(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
    max_hops: int = 8,
) -> str:
    """Taxonomy-LCA twin (pipeline/taxonomy.py taxonomy_lca): pairs
    sharing a strict common ancestor within the capped closure, ancestor
    argmin under (max(hops), sum(hops), key) via the exact packed score
    + equal-score min(anc) tie-break + a join back for the winner's hop
    columns. The per-ancestor descendant cap replays the engine's
    adaptive rule clamp(icbrt_ceil(N_concepts), 50, 5000) from count(*)
    (exact-integer cube root both sides)."""
    cl = kg_taxonomy_closure(mod, hypo_terms, hyper_terms, hyper2_terms,
                             max_hops)
    return _materialize(
        f"""
WITH lcl AS ({cl}),
lnt AS (
    SELECT count(*) AS n, CAST(round(pow(count(*), 1.0/3), 0) AS BIGINT) AS c
    FROM (SELECT hypo AS k FROM lcl UNION SELECT hyper FROM lcl)
),
lcap AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS mx FROM lnt),
lkept AS (
    SELECT hyper FROM lcl GROUP BY hyper
    HAVING count(*) <= (SELECT mx FROM lcap)
),
la AS (SELECT c.hypo, c.hyper, c.hops FROM lcl c JOIN lkept USING (hyper)),
lp AS (
    SELECT x.hypo AS node_a, y.hypo AS node_b, x.hyper AS anc,
           x.hops AS hops_a, y.hops AS hops_b,
           CAST(GREATEST(x.hops, y.hops) * 1048576 + x.hops + y.hops
                AS BIGINT) AS score
    FROM la x JOIN la y ON x.hyper = y.hyper AND x.hypo < y.hypo
),
lb AS (
    SELECT node_a, node_b, min(score) AS score FROM lp GROUP BY 1, 2
),
ll AS (
    SELECT p.node_a, p.node_b, min(p.anc) AS lca
    FROM lp p JOIN lb USING (node_a, node_b, score)
    GROUP BY 1, 2
)
SELECT l.node_a, l.node_b, l.lca, q.hops_a, q.hops_b
FROM ll l JOIN lp q
  ON q.node_a = l.node_a AND q.node_b = l.node_b AND q.anc = l.lca
""",
        "lcl", "lp",
    )


def kg_type_inference(model: str = "a100") -> str:
    """Type-inference twin (pipeline/er.py type_inference): distinct
    per-sentence OTHER / typed entity events, never-typed anti filter,
    sentence-local vote join, (votes DESC, type ASC) argmax."""
    return _materialize(
        _kg_prefix(model)
        + f"""
, ev AS (
    SELECT DISTINCT url, sent_idx, {_NORM_SURF} AS ent, pred_group AS etype
    FROM typed
),
ev2 AS (SELECT * FROM ev WHERE length(ent) > 0),
unt AS (SELECT DISTINCT url, sent_idx, ent FROM ev2 WHERE etype = 'OTHER'),
typ AS (SELECT url, sent_idx, ent, etype FROM ev2 WHERE etype <> 'OTHER'),
nev AS (
    SELECT DISTINCT u.ent FROM unt u
    ANTI JOIN (SELECT DISTINCT ent FROM typ) t USING (ent)
),
votes AS (
    SELECT u.ent, t.etype, CAST(count(*) AS BIGINT) AS n
    FROM unt u
    JOIN nev USING (ent)
    JOIN typ t ON u.url = t.url AND u.sent_idx = t.sent_idx AND t.ent <> u.ent
    GROUP BY u.ent, t.etype
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY ent ORDER BY n DESC, etype ASC) AS rnk,
           CAST(sum(n) OVER (PARTITION BY ent) AS BIGINT) AS tot,
           CAST(count(*) OVER (PARTITION BY ent) AS BIGINT) AS ntypes
    FROM votes
)
SELECT ent, etype AS inferred_type, n AS top_votes,
       tot AS n_votes, ntypes AS n_types_voted
FROM r WHERE rnk = 1
""",
        "ev2", "unt", "typ",
    )


def _substring_runs_ctes(
    mod: int,
    half_res: int,
    blocks: list[str],
    half_toks: int,
    k: int,
    min_len: int,
    max_occ: int,
) -> str:
    """Shared CTE chain for the exact-substring family
    (ops/dedup.shared_substring_runs twin), ending in ``runs``: the
    run-spliced docs2 corpus, k-token window md5 anchors, df-capped
    eligibility, cross-doc anchor join, diagonal gaps-and-islands
    coalescing into maximal shared runs. The deterministic doc_id-derived
    splice (full block every ``mod``-th doc, the block's first
    ``half_toks`` tokens on residue ``half_res``) is replayed
    byte-identically from the same Python constants the engine uses."""
    n = len(blocks)
    halves = [" ".join(b.split()[:half_toks]) for b in blocks]

    def case_of(terms: list[str]) -> str:
        whens = " ".join(
            f"WHEN {i} THEN '{t}'" for i, t in enumerate(terms)
        )
        return f"(CASE CAST(doc_id % {n} AS INT) {whens} END)"

    return f"""docs2 AS (
    SELECT doc_id,
           CASE WHEN doc_id % {mod} = 0
                THEN text || chr(10) || {case_of(blocks)}
                WHEN doc_id % {mod} = {half_res}
                THEN text || chr(10) || {case_of(halves)}
                ELSE text END AS text
    FROM documents
),
toks AS (SELECT doc_id, {_TOKS} AS arr FROM docs2),
wins AS (
    SELECT doc_id,
           md5(array_to_string(list_slice(arr, CAST(i AS INT), CAST(i AS INT) + {k} - 1), ' ')) AS win_fp,
           CAST(i AS BIGINT) AS pos
    FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr) - {k} + 1)) AS i
          FROM toks WHERE len(arr) >= {k})
),
elig AS (
    SELECT win_fp FROM wins GROUP BY win_fp
    HAVING count(DISTINCT doc_id) >= 2 AND count(*) <= {max_occ}
),
aw AS (SELECT w.* FROM wins w JOIN elig USING (win_fp)),
anch AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
    FROM aw a JOIN aw b ON a.win_fp = b.win_fp AND a.doc_id < b.doc_id
),
isl AS (
    SELECT *,
           pos_a - row_number() OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
           ) AS grp
    FROM anch
),
runs AS (
    SELECT doc_a, doc_b,
           CAST(min(pos_a) AS BIGINT) AS pos_a,
           CAST(min(pos_b) AS BIGINT) AS pos_b,
           CAST(max(pos_a) - min(pos_a) + {k} AS BIGINT) AS run_len
    FROM isl GROUP BY doc_a, doc_b, diag, grp
    HAVING max(pos_a) - min(pos_a) + {k} >= {min_len}
)"""


def dedup_substring_runs(
    mod: int,
    half_res: int,
    blocks: list[str],
    half_toks: int,
    k: int = 4,
    min_len: int = 6,
    max_occ: int = 1024,
) -> str:
    """Exact-substring run twin — see _substring_runs_ctes."""
    return _materialize(
        "WITH "
        + _substring_runs_ctes(mod, half_res, blocks, half_toks, k, min_len, max_occ)
        + "\nSELECT * FROM runs",
        "wins", "aw",
    )


def dedup_apply_cuts(
    mod: int,
    half_res: int,
    blocks: list[str],
    half_toks: int,
    k: int = 4,
    min_len: int = 6,
    max_occ: int = 1024,
) -> str:
    """Cut-application twin (ops/dedup.apply_substring_cuts): doc_b-side
    cut intervals from the shared runs, distinct, interval-merged by the
    running-max-end gaps-and-islands, then per affected doc the dedup
    accounting plus the md5 of the kept (uncut-position) tokens joined by
    single spaces."""
    return _materialize(
        "WITH "
        + _substring_runs_ctes(mod, half_res, blocks, half_toks, k, min_len, max_occ)
        + f"""
, cuts AS (
    SELECT DISTINCT doc_b AS doc_id, pos_b AS cstart,
           pos_b + run_len - 1 AS cend
    FROM runs
),
flagged AS (
    SELECT *,
           CASE WHEN max(cend) OVER (
                    PARTITION BY doc_id ORDER BY cstart, cend
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR cstart > max(cend) OVER (
                    PARTITION BY doc_id ORDER BY cstart, cend
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                )
                THEN 1 ELSE 0 END AS new_island
    FROM cuts
),
grouped AS (
    SELECT *,
           sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY cstart, cend
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS grp
    FROM flagged
),
merged AS (
    SELECT doc_id, min(cstart) AS s, max(cend) AS e
    FROM grouped GROUP BY doc_id, grp
),
stats AS (
    SELECT doc_id, CAST(sum(e - s + 1) AS BIGINT) AS n_cut_tokens
    FROM merged GROUP BY doc_id
),
atoks AS (
    SELECT t.doc_id, t.arr FROM toks t JOIN stats s ON s.doc_id = t.doc_id
),
pos AS (
    SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS p FROM atoks
),
kept AS (
    SELECT doc_id, p, arr[CAST(p AS INT)] AS tok
    FROM pos
    WHERE NOT EXISTS (
        SELECT 1 FROM merged m
        WHERE m.doc_id = pos.doc_id AND pos.p BETWEEN m.s AND m.e
    )
)
, keptagg AS (
    SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY p)) AS kept_md5
    FROM kept GROUP BY doc_id
)
SELECT a.doc_id,
       CAST(len(a.arr) AS BIGINT) AS n_tokens,
       s.n_cut_tokens,
       CAST(len(a.arr) - s.n_cut_tokens AS BIGINT) AS n_tokens_after,
       coalesce(k.kept_md5, md5('')) AS kept_md5
FROM atoks a
JOIN stats s ON s.doc_id = a.doc_id
LEFT JOIN keptagg k ON k.doc_id = a.doc_id
""",
        "wins", "aw", "toks", "runs", "merged",
    )


def txt_readability() -> str:
    """Readability twin (ops/textstats.readability): whitespace tokens,
    terminal-punctuation sentence count (clamped >= 1), vowel-group
    syllables (clamped >= 1 per word, trailing-empty-keeping split on
    both engines), FK grade x100 by integer division only."""
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS arr FROM documents),
per AS (
    SELECT doc_id,
           CAST(len(arr) AS BIGINT) AS n_words,
           CAST(greatest(1, len(list_filter(arr,
                t -> regexp_matches(t, '[.!?]$')))) AS BIGINT) AS n_sents,
           CAST(list_sum(list_transform(arr,
                t -> greatest(1, len(regexp_split_to_array(lower(t),
                     '[aeiouy]+')) - 1))) AS BIGINT) AS n_syllables
    FROM toks WHERE len(arr) > 0
)
SELECT doc_id, n_words, n_sents, n_syllables,
       CAST(3900 * n_words // n_sents
            + 118000 * n_syllables // n_words - 1559 AS BIGINT) AS fk_x100
FROM per
"""


def kg_graph_stats(model: str = "a100", scale: int = 1_000_000) -> str:
    """Graph-dashboard twin (pipeline/er.py graph_stats): symmetrized
    degree aggregate, (deg ASC, node ASC) rank window over the bounded
    degree table, one-row exact-integer density + Gini summary."""
    return _materialize(
        f"""
WITH edges AS ({kg_cooccurrence(model)}),
sym AS (
    SELECT ent_a || '|' || type_a AS src FROM edges
    UNION ALL
    SELECT ent_b || '|' || type_b AS src FROM edges
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
ranked AS (
    SELECT deg, src,
           CAST(row_number() OVER (ORDER BY deg ASC, src ASC) AS BIGINT) AS i
    FROM deg
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(deg) AS BIGINT) AS sum_deg,
           CAST(max(deg) AS BIGINT) AS max_deg,
           CAST(sum(i * deg) AS BIGINT) AS rank_dot
    FROM ranked
)
SELECT n_nodes,
       CAST(sum_deg // 2 AS BIGINT) AS n_edges,
       sum_deg, max_deg,
       CASE WHEN n_nodes > 1
            THEN CAST({scale} * sum_deg // (n_nodes * (n_nodes - 1)) AS BIGINT)
            ELSE 0 END AS density_ppm,
       CASE WHEN n_nodes > 0 AND sum_deg > 0
            THEN CAST((2 * rank_dot - (n_nodes + 1) * sum_deg) * {scale}
                      // (n_nodes * sum_deg) AS BIGINT)
            ELSE 0 END AS gini_ppm
FROM agg
""",
        "edges",
    )


def rel_outliers() -> str:
    """MAD-outlier twin (q_rel_outliers): integer cents, exact discrete
    median + MAD via the rank-at-ceil(n/2) device, |x-med| > 5*MAD count."""
    return _materialize(
        """
WITH ev AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
),
r1 AS (
    SELECT event_type, cents,
           row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM ev
),
med AS (
    SELECT event_type,
           CAST(max(CASE WHEN rn = floor((n * 50 + 99) / 100)
                    THEN cents END) AS BIGINT) AS med_cents
    FROM r1 GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.cents,
           abs(e.cents - m.med_cents) AS adev, m.med_cents
    FROM ev e JOIN med m USING (event_type)
),
r2 AS (
    SELECT event_type, adev,
           row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev
),
mad AS (
    SELECT event_type,
           CAST(max(CASE WHEN rn = floor((n * 50 + 99) / 100)
                    THEN adev END) AS BIGINT) AS med_adev
    FROM r2 GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(d.med_cents) AS BIGINT) AS med_cents,
       CAST(max(m.med_adev) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN d.adev > 5 * m.med_adev THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(max(d.adev) AS BIGINT) AS max_dev
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
""",
        "ev", "dev",
    )


def ann_cluster_quality(
    n_centroids: int | None = None, scale: int = 1_000_000
) -> str:
    """Cluster-diagnostics twin (ops/simsearch.cluster_quality): IVF
    assignment, per-cell member/quantized-inertia/worst-distance
    aggregates, nearest-other-centroid separation over the codebook,
    empty cells kept with zero members."""
    return _materialize(
        f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_IVF_ASSIGN_CTES.format(n_centroids=_n_centroids_sql(n_centroids)).strip()},
ad AS (
    SELECT a.vec_id, a.centroid_id,
           CAST(floor(d.d2 * {scale}) AS BIGINT) AS d2q
    FROM assign a
    JOIN d ON d.vec_id = a.vec_id AND d.centroid_id = a.centroid_id
),
per AS (
    SELECT centroid_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(d2q) AS BIGINT) AS inertia_q,
           CAST(max(d2q) AS BIGINT) AS max_d2_q
    FROM ad GROUP BY centroid_id
),
cc AS (
    SELECT a.centroid_id, b.centroid_id AS other_id,
           CAST(floor(round(
               list_dot_product(a.cv, a.cv) - 2 * list_dot_product(a.cv, b.cv)
               + list_dot_product(b.cv, b.cv), 9) * {scale}) AS BIGINT) AS d2c_q
    FROM c a JOIN c b ON a.centroid_id <> b.centroid_id
),
sep AS (
    SELECT centroid_id, other_id AS nn_centroid_id, d2c_q AS nn_d2_q FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY centroid_id ORDER BY d2c_q ASC, other_id ASC
               ) AS rn
        FROM cc) WHERE rn = 1
)
SELECT s.centroid_id,
       CAST(coalesce(p.n_members, 0) AS BIGINT) AS n_members,
       CAST(coalesce(p.inertia_q, 0) AS BIGINT) AS inertia_q,
       CAST(coalesce(p.max_d2_q, 0) AS BIGINT) AS max_d2_q,
       s.nn_centroid_id, s.nn_d2_q
FROM sep s LEFT JOIN per p ON p.centroid_id = s.centroid_id
""",
        "c", "d",
    )


def rel_changepoint() -> str:
    """CUSUM changepoint twin (q_rel_changepoint): daily counts per event
    type (wall-clock day index — the rel_retention timezone-free device),
    exact-integer deviation cum*n_days - i*total against the uniform
    rate, peak by (|dev| DESC, day ASC)."""
    return _materialize(
        """
WITH daily AS (
    SELECT event_type, CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY event_type, day
),
cum AS (
    SELECT event_type, day, c,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS i,
           CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS total,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
    FROM daily
),
dev AS (
    SELECT event_type, day, n_days, total,
           s * n_days - i * total AS dev
    FROM cum
),
r AS (
    SELECT *,
           row_number() OVER (
               PARTITION BY event_type ORDER BY abs(dev) DESC, day ASC
           ) AS rn
    FROM dev
)
SELECT event_type, n_days, total,
       day AS peak_day, CAST(dev AS BIGINT) AS peak_dev
FROM r WHERE rn = 1
""",
        "daily",
    )


def kg_rule_pca(model: str = "a100") -> str:
    """PCA-confidence rule twin (pipeline/triples.mine_rules_pca): the
    kg_rule_mining body plus the distinct (pred, subject) channel — PCA
    denominator = body facts whose head-subject has SOME head-pred fact
    (fwd keys the body subject, inv the body object)."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
{_RULE_SPLICE_SQL.strip()},
facts AS (
    SELECT DISTINCT subj, pred_norm, obj FROM (
        SELECT subj, pred_norm, obj FROM trip
        UNION ALL SELECT subj, pred_norm, obj FROM splice
        UNION ALL
        -- PCA-divergence splice (q_kg_rule_pca twin): knows-only subjects
        SELECT 'x' || CAST(doc_id % 4 AS VARCHAR) AS subj,
               'knows' AS pred_norm,
               'y' || CAST(doc_id % 4 AS VARCHAR) AS obj
        FROM documents WHERE doc_id % 7 = 0
    )
),
np AS (
    SELECT pred_norm AS p, CAST(count(*) AS BIGINT) AS n_p
    FROM facts GROUP BY pred_norm
),
qsubj AS (SELECT DISTINCT pred_norm AS q, subj AS qs FROM facts),
fwd AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'fwd' AS direction
    FROM facts a JOIN facts b ON a.subj = b.subj AND a.obj = b.obj
    WHERE a.pred_norm <> b.pred_norm
    GROUP BY a.pred_norm, b.pred_norm
),
inv AS (
    SELECT a.pred_norm AS p, b.pred_norm AS q,
           CAST(count(*) AS BIGINT) AS n_joint, 'inv' AS direction
    FROM facts a JOIN facts b ON a.subj = b.obj AND a.obj = b.subj
    WHERE a.subj <> a.obj
    GROUP BY a.pred_norm, b.pred_norm
),
fwdp AS (
    SELECT a.pred_norm AS p, s.q,
           CAST(count(*) AS BIGINT) AS n_pca, 'fwd' AS direction
    FROM facts a JOIN qsubj s ON s.qs = a.subj
    WHERE a.pred_norm <> s.q
    GROUP BY a.pred_norm, s.q
),
invp AS (
    SELECT a.pred_norm AS p, s.q,
           CAST(count(*) AS BIGINT) AS n_pca, 'inv' AS direction
    FROM facts a JOIN qsubj s ON s.qs = a.obj
    WHERE a.subj <> a.obj
    GROUP BY a.pred_norm, s.q
),
u AS (SELECT * FROM fwd UNION ALL SELECT * FROM inv),
up AS (SELECT * FROM fwdp UNION ALL SELECT * FROM invp)
SELECT u.p, u.q, u.direction, u.n_joint, np.n_p, up.n_pca,
       CAST(u.n_joint * 1000000 // np.n_p AS BIGINT) AS conf_ppm,
       CAST(u.n_joint * 1000000 // up.n_pca AS BIGINT) AS pca_conf_ppm
FROM u
JOIN up ON up.p = u.p AND up.q = u.q AND up.direction = u.direction
JOIN np ON np.p = u.p
""",
        "facts", "qsubj",
    )


def rel_partition_skew(key: str = "l_suppkey", n_partitions: int = 32) -> str:
    """Partition-skew twin (ops/layout.partition_skew): key-level counts,
    portable md5_int32 % P placement, P-bounded histogram."""
    return f"""
WITH k AS (
    SELECT {key} AS key, CAST(count(*) AS BIGINT) AS c
    FROM lineitem GROUP BY {key}
),
p AS (
    SELECT {_hex8_int_sql("md5(CAST(key AS VARCHAR))")} % {n_partitions}
               AS partition,
           c
    FROM k
)
SELECT CAST(partition AS BIGINT) AS partition,
       CAST(sum(c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(c) AS BIGINT) AS max_key_rows
FROM p GROUP BY partition
"""


def rel_q3_topk(cutoff: str = "1998-07-01") -> str:
    """TPC-H Q3-shaped twin (q_rel_q3_topk): BUILDING segment, both date
    filters, exact integer micro-cent revenue, top 10 by
    (revenue DESC, orderkey ASC)."""
    return f"""
WITH li AS (
    SELECT l_orderkey,
           CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev_q
    FROM lineitem WHERE l_shipdate > TIMESTAMP '{cutoff}'
),
agg AS (
    SELECT o.o_orderkey,
           CAST(sum(li.rev_q) AS BIGINT) AS revenue_q,
           CAST(max(datediff('day', DATE '1970-01-01', o.o_orderdate))
                AS BIGINT) AS order_day
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN li ON li.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{cutoff}'
    GROUP BY o.o_orderkey
)
SELECT o_orderkey, revenue_q, order_day
FROM agg ORDER BY revenue_q DESC, o_orderkey ASC LIMIT 10
"""


def kg_richclub(model: str = "a100", scale: int = 1_000_000) -> str:
    """Rich-club twin (pipeline/er.py rich_club): degree aggregate, edge
    min-degree histogram via two node-keyed joins, one cumulative window
    over the bounded degree histogram, exact-integer phi_ppm."""
    return _materialize(
        f"""
WITH edges AS ({kg_cooccurrence(model)}),
e AS (
    SELECT ent_a || '|' || type_a AS src, ent_b || '|' || type_b AS dst
    FROM edges
),
deg AS (
    SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e
    ) GROUP BY node
),
mh AS (
    SELECT least(da.deg, db.deg) AS k, CAST(count(*) AS BIGINT) AS edges_at
    FROM e JOIN deg da ON e.src = da.node JOIN deg db ON e.dst = db.node
    GROUP BY 1
),
dh AS (
    SELECT deg AS k, CAST(count(*) AS BIGINT) AS nodes_at
    FROM deg GROUP BY deg
),
cum AS (
    SELECT dh.k, dh.nodes_at,
           CAST(COALESCE(mh.edges_at, 0) AS BIGINT) AS edges_at
    FROM dh LEFT JOIN mh ON dh.k = mh.k
),
curve AS (
    SELECT k,
           CAST(sum(nodes_at) OVER ()
                - sum(nodes_at) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_rich,
           CAST(sum(edges_at) OVER ()
                - sum(edges_at) OVER (ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS e_rich
    FROM cum
)
SELECT k, n_rich, e_rich,
       CASE WHEN n_rich > 1
            THEN CAST(2 * e_rich * {scale} // (n_rich * (n_rich - 1))
                 AS BIGINT)
            ELSE 0 END AS phi_ppm
FROM curve
""",
        "edges", "e", "deg",
    )


def rel_trend(scale: int = 1_000_000) -> str:
    """OLS trend twin (ops/asof.trend_ols): daily counts, min-day shift,
    five integer sufficient statistics, sign-factored exact-integer
    slope_ppm (negative division never reaches the engines)."""
    return _materialize(
        f"""
WITH daily AS (
    SELECT event_type,
           CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY event_type, day
),
mins AS (
    SELECT event_type, min(day) AS day0 FROM daily GROUP BY event_type
),
s AS (
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(d.day - m.day0) AS BIGINT) AS sx,
           CAST(sum(d.c) AS BIGINT) AS sy,
           CAST(sum((d.day - m.day0) * d.c) AS BIGINT) AS sxy,
           CAST(sum((d.day - m.day0) * (d.day - m.day0)) AS BIGINT) AS sxx
    FROM daily d JOIN mins m ON d.event_type = m.event_type
    GROUP BY d.event_type
)
SELECT event_type, n_days,
       CAST(n_days * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n_days * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n_days * sxx - sx * sx > 0
            THEN CAST(
                (CASE WHEN n_days * sxy - sx * sy > 0 THEN 1
                      WHEN n_days * sxy - sx * sy < 0 THEN -1
                      ELSE 0 END)
                * (abs(n_days * sxy - sx * sy) * {scale}
                   // (n_days * sxx - sx * sx))
                AS BIGINT)
            ELSE 0 END AS slope_ppm
FROM s
""",
        "daily",
    )


def rel_scd2() -> str:
    """SCD2 history twin (ops/asof.scd2_history): lag-change flag on the
    (ts, event_id) order per user, running-sum island ids, island
    aggregate, lead(valid_from) over the bounded island table."""
    return _materialize(
        """
WITH ev AS (
    SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us, event_id
    FROM events
),
chg AS (
    SELECT user_id, state, ts_us, event_id,
           CASE WHEN lag(state) OVER w IS NULL
                     OR lag(state) OVER w <> state
                THEN 1 ELSE 0 END AS chg
    FROM ev
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
runs AS (
    SELECT user_id, state, ts_us,
           CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS island
    FROM chg
),
islands AS (
    SELECT user_id, island,
           min(state) AS state,
           CAST(min(ts_us) AS BIGINT) AS valid_from_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM runs GROUP BY user_id, island
)
SELECT user_id, island, state, valid_from_us, n_events,
       CAST(lead(valid_from_us) OVER (
           PARTITION BY user_id ORDER BY island) AS BIGINT) AS valid_to_us,
       CAST(CASE WHEN lead(valid_from_us) OVER (
           PARTITION BY user_id ORDER BY island) IS NULL
           THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM islands
""",
        "ev",
    )


def txt_cosine_pairs(
    max_df: int = 20, min_shared: int = 2, scale: int = 1_000_000
) -> str:
    """Sparse TF-cosine pair twin (ops/textstats.cosine_pairs over the
    q_txt_cosine_pairs splice): rare-term (df <= max_df) postings
    self-join, integer dot / squared norms / cos2_ppm."""
    return _materialize(
        f"""
WITH docs AS (
    SELECT doc_id,
           text || ' zq' || CAST(doc_id // 7 AS VARCHAR)
                || ' zr' || CAST(doc_id // 3 AS VARCHAR)
                || CASE WHEN doc_id % 2 = 0
                        THEN ' zq' || CAST(doc_id // 7 AS VARCHAR)
                        ELSE '' END AS text
    FROM documents
),
tk AS (
    SELECT doc_id, lower(u.t) AS term
    FROM docs,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
tf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM tk GROUP BY doc_id, term
),
rare AS (
    SELECT term FROM tf GROUP BY term HAVING count(*) <= {max_df}
),
rtf AS (SELECT tf.* FROM tf JOIN rare USING (term)),
norms AS (
    SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS norm2
    FROM rtf GROUP BY doc_id
),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_terms,
           CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
    FROM rtf a JOIN rtf b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {min_shared}
)
SELECT p.doc_a, p.doc_b, p.shared_terms, p.dot,
       na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
       CAST(p.dot * p.dot * {scale} // (na.norm2 * nb.norm2) AS BIGINT)
           AS cos2_ppm
FROM pairs p
JOIN norms na ON p.doc_a = na.doc_id
JOIN norms nb ON p.doc_b = nb.doc_id
""",
        "tf", "rtf", "norms",
    )


def txt_redirect_chains() -> str:
    """Redirect-chain twin (ops/webtext.redirect_chains over the
    q_txt_redirect_chains synthetic functional graph): RECURSIVE walk to
    the terminal, keeping the deepest row per url."""
    return _materialize(
        """
WITH RECURSIVE e AS (
    SELECT 'https://ex.org/p' || CAST(doc_id AS VARCHAR) AS src,
           'https://ex.org/p' || CAST(doc_id - 1 AS VARCHAR) AS dst
    FROM documents WHERE doc_id % 8 <> 0
),
walk AS (
    SELECT src AS url, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
    UNION ALL
    SELECT w.url, e.dst, CAST(w.hops + 1 AS BIGINT)
    FROM walk w JOIN e ON w.cur = e.src
)
SELECT url, cur AS canonical_url, hops FROM (
    SELECT *, row_number() OVER (PARTITION BY url ORDER BY hops DESC) AS rn
    FROM walk
) WHERE rn = 1
""",
        "e",
    )


def txt_rank_fusion(
    query_terms: tuple[str, ...] = ("join", "table", "spark"),
    k_each: int = 20, k: int = 10, rrf_k: int = 60,
    scale: int = 1_000_000,
) -> str:
    """RRF twin (ops/textstats.rrf_fusion): the txt_bm25 body at k_each
    plus a pure-integer tf*idf_i9 run, fused by scale // (rrf_k + rank)
    with absent-run contribution 0, (rrf DESC, doc ASC) top-k."""
    qlist = ", ".join(f"'{t}'" for t in query_terms)
    return f"""
WITH bm AS ({txt_bm25(query_terms, k=k_each)}),
farr AS (
    SELECT doc_id,
           list_transform(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x <> ''), x -> lower(x)) AS arr
    FROM documents
),
ftf AS (
    SELECT doc_id, u.t AS term, CAST(count(*) AS BIGINT) AS tf
    FROM farr, UNNEST(arr) AS u(t)
    WHERE u.t IN ({qlist})
    GROUP BY doc_id, u.t
),
fdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ftf GROUP BY term),
fn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM farr),
fidf AS (
    SELECT term,
           CAST(round(ln(CAST(n.n_docs AS DOUBLE) / CAST(df AS DOUBLE)) * 1e9)
                AS BIGINT) AS idf_i9
    FROM fdf, fn n
),
fti AS (
    SELECT t.doc_id, CAST(sum(t.tf * i.idf_i9) AS BIGINT) AS ti_i9
    FROM ftf t JOIN fidf i USING (term) GROUP BY t.doc_id
),
ftr AS (
    SELECT doc_id, tfidf_rank FROM (
        SELECT doc_id, CAST(row_number() OVER (ORDER BY ti_i9 DESC, doc_id ASC)
                            AS BIGINT) AS tfidf_rank
        FROM fti
    ) WHERE tfidf_rank <= {int(k_each)}
),
fused AS (
    SELECT COALESCE(bm.doc_id, ftr.doc_id) AS doc_id,
           CAST(COALESCE(bm.rnk, 0) AS BIGINT) AS bm25_rank,
           CAST(COALESCE(ftr.tfidf_rank, 0) AS BIGINT) AS tfidf_rank
    FROM bm FULL OUTER JOIN ftr ON bm.doc_id = ftr.doc_id
),
frrf AS (
    SELECT doc_id, bm25_rank, tfidf_rank,
           CAST((CASE WHEN bm25_rank > 0
                      THEN {scale} // ({rrf_k} + bm25_rank) ELSE 0 END)
                + (CASE WHEN tfidf_rank > 0
                        THEN {scale} // ({rrf_k} + tfidf_rank) ELSE 0 END)
                AS BIGINT) AS rrf_ppm
    FROM fused
)
SELECT doc_id, bm25_rank, tfidf_rank, rrf_ppm, fused_rank FROM (
    SELECT *, CAST(row_number() OVER (ORDER BY rrf_ppm DESC, doc_id ASC)
                   AS BIGINT) AS fused_rank
    FROM frrf
) WHERE fused_rank <= {int(k)}
"""


def ann_hard_negatives(n_queries: int = 8, k: int = 5) -> str:
    """Hard-negative twin (ops/simsearch.hard_negatives): the
    ann_bruteforce body with the different-label predicate on the
    broadcast join."""
    return f"""
WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
           CAST(label AS BIGINT) AS label
    FROM embeddings
),
q AS (
    SELECT vec_id AS query_id, v AS qv, label AS query_label
    FROM e WHERE vec_id < {n_queries}
),
scored AS (
    SELECT q.query_id, q.query_label, e.vec_id, e.label,
           list_dot_product(e.v, q.qv) /
           (sqrt(list_dot_product(e.v, e.v))
            * sqrt(list_dot_product(q.qv, q.qv))) AS cos
    FROM e CROSS JOIN q
    WHERE e.vec_id <> q.query_id AND e.label <> q.query_label
),
r AS (
    SELECT query_id, query_label, vec_id, label,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, query_label, CAST(rank AS BIGINT) AS rank,
       vec_id AS neighbor_id, label AS neighbor_label
FROM r WHERE rank <= {k}
"""


def rel_late_events(delay_mod: int = 97) -> str:
    """Lateness-histogram twin (ops/asof.late_events): quadratic
    synthetic delay, decimal-magnitude buckets, type-bounded share
    join."""
    return _materialize(
        f"""
WITH ld AS (
    SELECT event_type,
           CAST((event_id % {delay_mod}) * (event_id % {delay_mod})
                AS BIGINT) AS delay_s
    FROM events
),
lb AS (
    SELECT event_type, delay_s,
           CAST(CASE WHEN delay_s = 0 THEN 0
                     WHEN delay_s < 10 THEN 1
                     WHEN delay_s < 100 THEN 2
                     WHEN delay_s < 1000 THEN 3
                     ELSE 4 END AS BIGINT) AS bucket
    FROM ld
),
lh AS (
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(delay_s) AS BIGINT) AS max_delay_s
    FROM lb GROUP BY event_type, bucket
),
lt AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
    FROM lb GROUP BY event_type
)
SELECT h.event_type, h.bucket, h.n_events, h.max_delay_s,
       CAST(h.n_events * 1000000 // t.n_total AS BIGINT) AS share_ppm
FROM lh h JOIN lt t USING (event_type)
""",
        "lb",
    )


def rel_corr_pairs(scale: int = 1_000_000) -> str:
    """Daily-count correlation twin (ops/asof.corr_pairs): shared-day
    self-join of the bounded daily table, exact integer sufficient
    statistics, two-step exact-order corr2_ppm."""
    return _materialize(
        f"""
WITH daily AS (
    SELECT event_type,
           CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY event_type, day
),
j AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.c AS x, b.c AS y
    FROM daily a JOIN daily b
      ON a.day = b.day AND a.event_type < b.event_type
),
s AS (
    SELECT type_a, type_b,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM j GROUP BY type_a, type_b
)
SELECT type_a, type_b, n_days,
       CAST(n_days * sxy - sx * sy AS BIGINT) AS corr_num,
       CAST(n_days * sxx - sx * sx AS BIGINT) AS var_x,
       CAST(n_days * syy - sy * sy AS BIGINT) AS var_y,
       CAST(CASE WHEN n_days * sxy - sx * sy > 0 THEN 1
                 WHEN n_days * sxy - sx * sy < 0 THEN -1
                 ELSE 0 END AS BIGINT) AS corr_sign,
       CASE WHEN n_days * sxx - sx * sx > 0 AND n_days * syy - sy * sy > 0
            THEN CAST((abs(n_days * sxy - sx * sy) * {scale}
                       // (n_days * sxx - sx * sx))
                      * abs(n_days * sxy - sx * sy)
                      // (n_days * syy - sy * sy) AS BIGINT)
            ELSE 0 END AS corr2_ppm
FROM s
""",
        "daily",
    )


def rel_value_deciles() -> str:
    """Exact-decile twin (ops/asof.value_deciles): global rank decomposed
    as bounded-histogram cum_before + within-value row_number, decile
    aggregate with exact shares."""
    return _materialize(
        """
WITH vu AS (
    SELECT user_id,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
    FROM events GROUP BY user_id
),
vh AS (SELECT v, CAST(count(*) AS BIGINT) AS n_at FROM vu GROUP BY v),
vc AS (
    SELECT v,
           CAST(COALESCE(sum(n_at) OVER (ORDER BY v DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_before,
           CAST(sum(n_at) OVER () AS BIGINT) AS n_total
    FROM vh
),
vr AS (
    SELECT u.user_id, u.v,
           c.cum_before
           + row_number() OVER (PARTITION BY u.v ORDER BY u.user_id) AS rank,
           c.n_total
    FROM vu u JOIN vc c USING (v)
),
vd AS (
    SELECT v, CAST((rank - 1) * 10 // n_total AS BIGINT) AS decile FROM vr
),
vp AS (
    SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(v) AS BIGINT) AS sum_cents
    FROM vd GROUP BY decile
),
vt AS (SELECT CAST(sum(v) AS BIGINT) AS total_cents FROM vu),
vs AS (
    SELECT decile, n_users, sum_cents,
           CAST(sum_cents * 1000000 // t.total_cents AS BIGINT) AS share_ppm
    FROM vp, vt t
)
SELECT decile, n_users, sum_cents, share_ppm,
       CAST(sum(share_ppm) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_share_ppm
FROM vs
""",
        "vu", "vh",
    )


def txt_heaps_growth() -> str:
    """Heaps-growth twin (ops/textstats.heaps_growth): bit-length bucket
    histograms (binary-string length — the exact-integer log2 device),
    generated checkpoint spine, one cumulative window."""
    return _materialize(
        """
WITH htk AS (
    SELECT doc_id, lower(u.t) AS term
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
hmin AS (SELECT term, min(doc_id) AS m FROM htk GROUP BY term),
hv AS (
    SELECT CAST(CASE WHEN m = 0 THEN 0 ELSE length(bin(m)) END AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS v_at
    FROM hmin GROUP BY 1
),
hd0 AS (
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) AS BIGINT) AS n_tok
    FROM documents
),
hd AS (
    SELECT CAST(CASE WHEN doc_id = 0 THEN 0
                     ELSE length(bin(doc_id)) END AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS d_at,
           CAST(sum(n_tok) AS BIGINT) AS t_at
    FROM hd0 GROUP BY 1
),
hspine AS (
    SELECT CAST(u.k AS BIGINT) AS k
    FROM (SELECT max(k) AS km FROM hd),
         UNNEST(generate_series(0, km)) AS u(k)
),
hrow AS (
    SELECT s.k,
           CAST(COALESCE(d.d_at, 0) AS BIGINT) AS d_at,
           CAST(COALESCE(d.t_at, 0) AS BIGINT) AS t_at,
           CAST(COALESCE(v.v_at, 0) AS BIGINT) AS v_at
    FROM hspine s LEFT JOIN hd d ON s.k = d.k LEFT JOIN hv v ON s.k = v.k
)
SELECT k,
       CAST(sum(d_at) OVER w AS BIGINT) AS n_docs,
       CAST(sum(t_at) OVER w AS BIGINT) AS n_tokens,
       CAST(sum(v_at) OVER w AS BIGINT) AS vocab
FROM hrow
WINDOW w AS (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
        "htk",
    )


def txt_canonical_conflicts() -> str:
    """Canonical-conflict twin (ops/webtext.canonical_conflicts over the
    q_txt_canonical_conflicts graph + fingerprint splice): RECURSIVE
    walk to terminals, self-canonical for non-sources, fingerprint
    countDistinct per canonical group."""
    return _materialize(
        """
WITH RECURSIVE e AS (
    SELECT 'https://ex.org/p' || CAST(doc_id AS VARCHAR) AS src,
           'https://ex.org/p' || CAST(doc_id - 1 AS VARCHAR) AS dst
    FROM documents WHERE doc_id % 8 <> 0
),
pages AS (
    SELECT 'https://ex.org/p' || CAST(doc_id AS VARCHAR) AS url,
           CASE WHEN (doc_id // 8) % 5 = 0
                THEN md5('g' || CAST(doc_id // 8 AS VARCHAR))
                ELSE md5(text) END AS fp
    FROM documents
),
walk AS (
    SELECT src AS url, dst AS cur, 1 AS hops FROM e
    UNION ALL
    SELECT w.url, e.dst, w.hops + 1 FROM walk w JOIN e ON w.cur = e.src
),
resolved AS (
    SELECT url, cur AS canonical_url FROM (
        SELECT *, row_number() OVER (PARTITION BY url ORDER BY hops DESC)
               AS rn
        FROM walk
    ) WHERE rn = 1
),
members AS (
    SELECT url, canonical_url FROM resolved
    UNION ALL
    SELECT p.url, p.url AS canonical_url FROM pages p
    WHERE p.url NOT IN (SELECT src FROM e)
)
SELECT m.canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT p.fp) AS BIGINT) AS n_fingerprints,
       CAST(CASE WHEN count(DISTINCT p.fp) > 1 THEN 1 ELSE 0 END AS BIGINT)
           AS is_conflict
FROM members m JOIN pages p USING (url)
GROUP BY m.canonical_url
""",
        "e", "pages",
    )


def rel_interarrival() -> str:
    """Inter-arrival twin (ops/asof.interarrival): per-(user, type) lag
    gaps, type-partitioned rank-at-ceil median / p90, max."""
    return _materialize(
        """
WITH ia AS (
    SELECT user_id, event_type, epoch_us(ts) AS t_us, event_id,
           lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS prev_us
    FROM events
),
gaps AS (
    SELECT event_type, CAST(t_us - prev_us AS BIGINT) AS gap_us
    FROM ia WHERE prev_us IS NOT NULL
),
r AS (
    SELECT event_type, gap_us,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY gap_us)
                AS BIGINT) AS rn,
           CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM gaps
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n_gaps,
       CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN gap_us END)
            AS BIGINT) AS med_gap_us,
       CAST(max(CASE WHEN rn = (n * 90 + 99) // 100 THEN gap_us END)
            AS BIGINT) AS p90_gap_us,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM r GROUP BY event_type
""",
        "gaps",
    )


def txt_token_entropy() -> str:
    """Entropy-statistics twin (ops/textstats.token_entropy): per-term
    round(c*ln(c)*1e9) integer-summed per doc."""
    return _materialize(
        """
WITH etk AS (
    SELECT doc_id, lower(u.t) AS term
    FROM documents,
         UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                            x -> x <> '')) AS u(t)
),
etf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
    FROM etk GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(CAST(round(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) * 1e9)
                     AS BIGINT)) AS BIGINT) AS clnc_i9_sum
FROM etf GROUP BY doc_id
""",
        "etf",
    )


def rel_weekday_profile() -> str:
    """Weekday-profile twin (ops/asof.weekday_profile): (epoch_day + 3)
    mod 7 arithmetic weekday, bounded histogram, exact deviation and
    share."""
    return _materialize(
        """
WITH wev AS (
    SELECT event_type,
           CAST((CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) + 3)
                % 7 AS BIGINT) AS dow
    FROM events
),
wh AS (
    SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_events
    FROM wev GROUP BY event_type, dow
),
wt AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_total
    FROM wev GROUP BY event_type
)
SELECT h.event_type, h.dow, h.n_events,
       CAST(7 * h.n_events - t.n_total AS BIGINT) AS dev_7c_total,
       CAST(h.n_events * 1000000 // t.n_total AS BIGINT) AS share_ppm
FROM wh h JOIN wt t USING (event_type)
""",
        "wev",
    )


def kg_bowtie(
    model: str = "a100",
    inner_rounds: int = 3,
    outer_rounds: int = 2,
    reach_rounds: int = 6,
) -> str:
    """Bow-tie twin (pipeline/er.py bowtie_classes): the full kg_scc body,
    largest-SCC pick (n DESC, scc_id ASC LIMIT 1), ``reach_rounds``
    unrolled forward/backward BFS rounds over dedges, then the 5-way
    core/loop/in/out/other CASE — the engine's frontier sweeps and these
    unrolled rounds agree exactly because both compute reachability
    within the same hop horizon over the same distinct edge set."""
    tail = """, btsize AS (
    SELECT scc_id, count(*) AS n FROM sccout WHERE status = 'scc'
    GROUP BY scc_id
),
btcore AS (
    SELECT s.k FROM sccout s
    JOIN (SELECT scc_id FROM btsize ORDER BY n DESC, scc_id ASC LIMIT 1) c
      ON s.scc_id = c.scc_id
),
btfw0 AS (SELECT k FROM btcore),
btbk0 AS (SELECT k FROM btcore)"""
    for i in range(1, int(reach_rounds) + 1):
        tail += f""",
btfw{i} AS (
    SELECT DISTINCT k FROM (
        SELECT k FROM btfw{i - 1}
        UNION ALL
        SELECT d.dst FROM dedges d JOIN btfw{i - 1} f ON f.k = d.src
    )
),
btbk{i} AS (
    SELECT DISTINCT k FROM (
        SELECT k FROM btbk{i - 1}
        UNION ALL
        SELECT d.src FROM dedges d JOIN btbk{i - 1} b ON b.k = d.dst
    )
)"""
    tail += f"""
SELECT a.k AS node,
       CASE WHEN c.k IS NOT NULL THEN 'core'
            WHEN b.k IS NOT NULL AND f.k IS NOT NULL THEN 'loop'
            WHEN b.k IS NOT NULL THEN 'in'
            WHEN f.k IS NOT NULL THEN 'out'
            ELSE 'other' END AS cls
FROM act1 a
LEFT JOIN btcore c ON c.k = a.k
LEFT JOIN btfw{int(reach_rounds)} f ON f.k = a.k
LEFT JOIN btbk{int(reach_rounds)} b ON b.k = a.k
"""
    sql = kg_scc(model, inner_rounds, outer_rounds, tail=tail)
    mats = ["btcore"] + [
        f"bt{d}{i}"
        for d in ("fw", "bk")
        for i in range(1, int(reach_rounds) + 1)
    ]
    return _materialize(sql, *mats)


def kg_rpq(model: str = "a100", max_hops: int = 8) -> str:
    """RPQ ``p/q*`` twin (pipeline/er.py rpq_two_step): the same
    data-derived predicate pair (count DESC, pred ASC row_number), a
    depth-capped RECURSIVE q-closure with min(hops) (== the engine's
    min-plus doubling — both compute shortest q-walk length <= cap), one
    p-edge composition UNION the bare p-edges at 0 hops, min aggregate."""
    return _materialize(
        f"""
WITH RECURSIVE trip AS ({kg_triples(model)}),
rpqc AS (
    SELECT pred_norm AS pred, count(*) AS n FROM trip GROUP BY pred_norm
),
rpqr AS (
    SELECT pred, row_number() OVER (ORDER BY n DESC, pred ASC) AS rnk
    FROM rpqc
),
rpqe AS (
    SELECT DISTINCT t.subj AS src, t.obj AS mid
    FROM trip t JOIN rpqr r ON r.pred = t.pred_norm
    WHERE r.rnk = 1 AND t.subj <> t.obj
),
rpqq AS (
    SELECT DISTINCT t.subj AS a, t.obj AS b
    FROM trip t JOIN rpqr r ON r.pred = t.pred_norm
    WHERE r.rnk = 2 AND t.subj <> t.obj
),
rpqreach AS (
    SELECT a, b, 1 AS hops FROM rpqq
    UNION
    SELECT r.a, e.b, r.hops + 1
    FROM rpqreach r JOIN rpqq e ON e.a = r.b
    WHERE r.hops < {int(max_hops)}
),
rpqclo AS (
    SELECT a, b, min(hops) AS hops FROM rpqreach WHERE a <> b GROUP BY a, b
)
SELECT src, dst, CAST(min(hops) AS BIGINT) AS q_hops
FROM (
    SELECT src, mid AS dst, 0 AS hops FROM rpqe
    UNION ALL
    SELECT p.src, q.b AS dst, q.hops FROM rpqe p JOIN rpqclo q ON q.a = p.mid
)
GROUP BY src, dst
""",
        "trip", "rpqe", "rpqq",
    )


def _llr_cell_sql(k: str, r: str, c: str) -> str:
    """One G2 contingency cell: round(k * ln(k*N/(r*c)) * 1e6) as BIGINT,
    0 when the cell is empty — mirrors ops/textstats.collocation_llr's
    per-cell rounding exactly (ln split the same way: ln(k*N) - ln(r*c);
    MICRO precision — see the engine docstring's ulp-drift rationale)."""
    return (
        f"CASE WHEN {k} > 0 THEN CAST(round(CAST({k} AS DOUBLE) * "
        f"(ln(CAST({k} AS DOUBLE) * CAST(n_total AS DOUBLE)) - "
        f"ln(CAST({r} AS DOUBLE) * CAST({c} AS DOUBLE))) * 1e6) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


def txt_collocation_llr(min_pair: int = 2) -> str:
    """Dunning G2 collocation twin (ops/textstats.collocation_llr):
    adjacent bigrams via generate_series, marginals over the bigram
    table itself, four per-cell-rounded BIGINT terms doubled."""
    c11 = _llr_cell_sql("k11", "n1x", "nx2")
    c12 = _llr_cell_sql("n1x - k11", "n1x", "n_total - nx2")
    c21 = _llr_cell_sql("nx2 - k11", "n_total - n1x", "nx2")
    c22 = _llr_cell_sql(
        "n_total - n1x - nx2 + k11", "n_total - n1x", "n_total - nx2"
    )
    return _materialize(
        f"""
WITH cltk AS (
    SELECT {_LOWTOKS} AS arr FROM documents
),
clbg AS (
    SELECT arr[CAST(i AS INT)] AS w1, arr[CAST(i AS INT) + 1] AS w2
    FROM (SELECT arr, unnest(generate_series(1, len(arr) - 1)) AS i
          FROM cltk WHERE len(arr) > 1)
),
clpc AS (
    SELECT w1, w2, CAST(count(*) AS BIGINT) AS k11
    FROM clbg GROUP BY w1, w2
),
clrow AS (SELECT w1, CAST(sum(k11) AS BIGINT) AS n1x FROM clpc GROUP BY w1),
clcol AS (SELECT w2, CAST(sum(k11) AS BIGINT) AS nx2 FROM clpc GROUP BY w2),
cltot AS (SELECT CAST(sum(k11) AS BIGINT) AS n_total FROM clpc)
SELECT p.w1, p.w2, p.k11, r.n1x, c.nx2, t.n_total,
       CAST(2 * ({c11} + {c12} + {c21} + {c22}) AS BIGINT) AS llr_i6
FROM clpc p
JOIN clrow r ON r.w1 = p.w1
JOIN clcol c ON c.w2 = p.w2, cltot t
WHERE p.k11 >= {int(min_pair)}
""",
        "clpc",
    )


def txt_zipf_slope() -> str:
    """Zipf-fit twin (ops/textstats.zipf_slope): vocabulary tf, global
    (tf DESC, term ASC) row_number rank, per-term i9-rounded log sums."""
    return f"""
WITH zftf AS (
    SELECT term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT unnest({_LOWTOKS}) AS term FROM documents)
    GROUP BY term
),
zfr AS (
    SELECT tf,
           CAST(row_number() OVER (ORDER BY tf DESC, term ASC) AS BIGINT)
               AS rank
    FROM zftf
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT))
            AS BIGINT) AS sx_i9,
       CAST(sum(CAST(round(ln(CAST(tf AS DOUBLE)) * 1e9) AS BIGINT))
            AS BIGINT) AS sy_i9,
       CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE))
                           * ln(CAST(tf AS DOUBLE)) * 1e9) AS BIGINT))
            AS BIGINT) AS sxy_i9,
       CAST(sum(CAST(round(ln(CAST(rank AS DOUBLE))
                           * ln(CAST(rank AS DOUBLE)) * 1e9) AS BIGINT))
            AS BIGINT) AS sxx_i9
FROM zfr
"""


def txt_burstiness(min_cf: int = 2) -> str:
    """Term-dispersion twin (ops/textstats.term_burstiness): (doc, term)
    tf, then the four per-term integers."""
    return f"""
WITH bstf AS (
    SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest({_LOWTOKS}) AS term FROM documents)
    GROUP BY doc_id, term
)
SELECT term,
       CAST(sum(tf) AS BIGINT) AS cf,
       CAST(count(*) AS BIGINT) AS df,
       CAST(max(tf) AS BIGINT) AS max_tf,
       CAST(sum(tf * tf) AS BIGINT) AS sum_tf2
FROM bstf GROUP BY term
HAVING sum(tf) >= {int(min_cf)}
"""


def rel_gap_fill(residue_mod: int, residue_rem: int) -> str:
    """Calendar-densification twin (ops/asof.calendar_gap_fill): per-type
    (day) counts on the deterministic sparse substream, per-type [lo, hi]
    range, lateral generate_series calendar, zero-filled left join. The
    residue filter is the splice that guarantees both is_filled branches
    fire (the raw stream is day-dense at every gate scale)."""
    return f"""
WITH gfe AS (
    SELECT event_type,
           CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) AS day
    FROM events WHERE event_id % {int(residue_mod)} = {int(residue_rem)}
),
gfc AS (
    SELECT event_type, day, CAST(count(*) AS BIGINT) AS n
    FROM gfe GROUP BY event_type, day
),
gfr AS (
    SELECT event_type, min(day) AS lo, max(day) AS hi
    FROM gfc GROUP BY event_type
),
gfcal AS (
    SELECT event_type, CAST(UNNEST(generate_series(lo, hi)) AS BIGINT) AS day
    FROM gfr
)
SELECT c.event_type, c.day,
       CAST(COALESCE(g.n, 0) AS BIGINT) AS n_events,
       CAST(CASE WHEN g.n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_filled
FROM gfcal c
LEFT JOIN gfc g ON g.event_type = c.event_type AND g.day = c.day
"""


def rel_hopping_window(width_days: int = 7) -> str:
    """Hopping-window twin (ops/asof.hopping_window_counts): each event
    lateral-unnests into its covering window starts, then the same two
    stacked aggregates ((type, start, user) then (type, start))."""
    w = int(width_days)
    return _materialize(
        f"""
WITH hwe AS (
    SELECT event_type, user_id,
           CAST(datediff('day', DATE '1970-01-01', ts) AS BIGINT) AS day
    FROM events
),
hwx AS (
    SELECT event_type, user_id,
           CAST(UNNEST(generate_series(day - {w - 1}, day)) AS BIGINT)
               AS win_start_day
    FROM hwe
),
hwu AS (
    SELECT event_type, win_start_day, user_id,
           CAST(count(*) AS BIGINT) AS n
    FROM hwx GROUP BY event_type, win_start_day, user_id
)
SELECT event_type, win_start_day,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(count(*) AS BIGINT) AS n_users
FROM hwu GROUP BY event_type, win_start_day
""",
        "hwu",
    )


def kg_simrank(model: str = "a100") -> str:
    """SimRank-2 twin (pipeline/er.py simrank_two_iter): directed triple
    adjacency (self-loops dropped), the shared exact-cube-root relay
    OUT-degree cap, s_1 wedge over capped common in-neighbors with exact
    integer s1_ppm = 800000*w // (di*dj), diagonal s_1(v,v) = 1e6 for
    capped in-neighbors, and the s_2 extension join with
    s2_ppm = 4*t_sum // (5*da*db) — the identical overflow-safe 4/5
    factoring."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c "
        "FROM sradj))"
    )
    names_src = ["p1", "p1", "p2", "p2", "p3", "r", "r", "y1", "y2"]
    names_dst = ["sA", "sB", "sA", "sB", "sA", "y1", "y2", "q1", "q2"]
    arr = lambda ns: "[" + ", ".join(f"'-{n}'" for n in ns) + "]"  # noqa: E731
    splice = (
        "SELECT 'sr' || CAST((doc_id // 9) % 3 AS VARCHAR) || "
        f"({arr(names_src)})[CAST(doc_id % 9 AS INT) + 1] AS src, "
        "'sr' || CAST((doc_id // 9) % 3 AS VARCHAR) || "
        f"({arr(names_dst)})[CAST(doc_id % 9 AS INT) + 1] AS dst "
        "FROM documents"
    )
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
sradj AS (
    SELECT DISTINCT src, dst FROM (
        SELECT subj AS src, obj AS dst FROM trip
        UNION ALL
        {splice}
    ) WHERE src <> dst
),
srod AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM sradj GROUP BY src),
srok AS (SELECT src AS relay FROM srod WHERE od <= {cap}),
sraok AS (SELECT a.src, a.dst FROM sradj a JOIN srok k ON k.relay = a.src),
srideg AS (SELECT dst, CAST(count(*) AS BIGINT) AS ideg
           FROM sradj GROUP BY dst),
srw AS (
    SELECT x.dst AS i, y.dst AS j, CAST(count(*) AS BIGINT) AS w
    FROM sraok x JOIN sraok y ON y.src = x.src AND x.dst < y.dst
    GROUP BY x.dst, y.dst
),
srs1 AS (
    SELECT i, j,
           CAST(800000 * w // (di.ideg * dj.ideg) AS BIGINT) AS s1_ppm
    FROM srw
    JOIN srideg di ON di.dst = srw.i
    JOIN srideg dj ON dj.dst = srw.j
),
srfull AS (
    SELECT i, j, s1_ppm FROM srs1
    UNION ALL SELECT j, i, s1_ppm FROM srs1
    UNION ALL
    SELECT DISTINCT a.src, a.src, CAST(1000000 AS BIGINT)
    FROM sradj a JOIN srok k ON k.relay = a.src
),
srt AS (
    SELECT ea.dst AS a, eb.dst AS b, CAST(sum(f.s1_ppm) AS BIGINT) AS t_sum
    FROM srfull f
    JOIN sraok ea ON ea.src = f.i
    JOIN sraok eb ON eb.src = f.j
    WHERE ea.dst < eb.dst
    GROUP BY ea.dst, eb.dst
)
SELECT t.a AS node_a, t.b AS node_b,
       da.ideg AS indeg_a, db.ideg AS indeg_b, t.t_sum,
       CAST(COALESCE(s.s1_ppm, 0) AS BIGINT) AS s1_ppm,
       CAST(4 * t.t_sum // (5 * da.ideg * db.ideg) AS BIGINT) AS s2_ppm
FROM srt t
JOIN srideg da ON da.dst = t.a
JOIN srideg db ON db.dst = t.b
LEFT JOIN srs1 s ON s.i = t.a AND s.j = t.b
""",
        "trip", "sradj", "sraok", "srideg", "srs1",
    )


def rel_sequence_patterns(residue_mod: int = 7, residue_rem: int = 0) -> str:
    """Sequential-pattern twin (ops/asof.py sequence_patterns over the
    entry wrapper's residue substream — the full gate stream is so dense
    every user supports every pair, so the rel_gap_fill residue splice
    makes the strict order test actually discriminate): the same (user,
    type, min/max epoch-us) sufficient statistics, the strict a.first <
    b.last existence test, and the documented overflow-safe lift
    evaluation order ((support*10^6 // ant) * total // cons)."""
    return _materialize(
        f"""
WITH seqper AS (
    SELECT user_id, event_type,
           min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
    FROM events
    WHERE event_id % {int(residue_mod)} = {int(residue_rem)}
    GROUP BY user_id, event_type
),
seqtot AS (
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_total
    FROM seqper
),
seqtu AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users_type
    FROM seqper GROUP BY event_type
),
seqsupp AS (
    SELECT a.event_type AS antecedent, b.event_type AS consequent,
           CAST(count(*) AS BIGINT) AS n_users
    FROM seqper a JOIN seqper b ON a.user_id = b.user_id
    WHERE a.first_us < b.last_us
    GROUP BY 1, 2
)
SELECT s.antecedent, s.consequent, s.n_users,
       ta.n_users_type AS n_users_ant,
       tb.n_users_type AS n_users_cons,
       t.n_users_total,
       CAST(s.n_users * 1000000 // ta.n_users_type AS BIGINT)
           AS confidence_ppm,
       CAST((s.n_users * 1000000 // ta.n_users_type) * t.n_users_total
            // tb.n_users_type AS BIGINT) AS lift_ppm
FROM seqsupp s
JOIN seqtu ta ON ta.event_type = s.antecedent
JOIN seqtu tb ON tb.event_type = s.consequent
CROSS JOIN seqtot t
""",
        "seqper",
    )


def kg_temporal_paths(model: str = "a100") -> str:
    """Time-respecting 2-hop twin (pipeline/er.py temporal_paths over the
    triples_temporal chain): edges collapse to (subj, obj, min
    first_seen), middles gated by the shared exact integer cube-root cap
    on both degrees, equi-join wedge with the t2 >= t1 time filter."""
    cap = (
        "(SELECT GREATEST(16, LEAST(4096, " + _icbrt_ceil_sql() + ")) "
        "FROM (SELECT GREATEST(count(*), 1) AS n, "
        "CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT) AS c "
        "FROM tpe))"
    )
    return _materialize(
        f"""
WITH tpf AS ({kg_triples_temporal(model)})
, tpe AS (
    SELECT subj, obj, CAST(min(first_seen) AS BIGINT) AS ts
    FROM tpf GROUP BY subj, obj
),
tpoutd AS (SELECT subj AS k, CAST(count(*) AS BIGINT) AS out_deg
           FROM tpe GROUP BY subj),
tpind AS (SELECT obj AS k, CAST(count(*) AS BIGINT) AS in_deg
          FROM tpe GROUP BY obj),
tpmids AS (
    SELECT o.k AS mid_ok FROM tpoutd o JOIN tpind i ON i.k = o.k
    WHERE o.out_deg <= {cap} AND i.in_deg <= {cap}
)
SELECT e1.subj AS src, e2.obj AS dst,
       CAST(count(*) AS BIGINT) AS n_paths,
       CAST(count(DISTINCT e1.obj) AS BIGINT) AS n_mids,
       CAST(min(e2.ts) AS BIGINT) AS earliest_arrival,
       CAST(min(e2.ts - e1.ts) AS BIGINT) AS min_wait,
       CAST(CASE WHEN e1.subj = e2.obj THEN 1 ELSE 0 END AS BIGINT)
           AS is_cycle
FROM tpe e1
JOIN tpmids m ON m.mid_ok = e1.obj
JOIN tpe e2 ON e2.subj = e1.obj
WHERE e2.ts >= e1.ts
GROUP BY e1.subj, e2.obj
""",
        "tpe",
    )


def txt_shard_ring(
    n_shards_before: int = 4, n_shards_after: int = 5, n_vnodes: int = 16
) -> str:
    """Consistent-hash resharding twin (ops/layout.py shard_ring_moves):
    the ring literals come from the SAME ring_points() the engine inlines
    (srp_signs sharing precedent); successor = arg_min over points
    at-or-after the doc position, wrapping to the global minimum."""
    from unsupervised_ner_spark.ops.layout import ring_points

    def ring_values(name: str, n_shards: int) -> str:
        rows = ", ".join(
            f"({p}, {s})" for p, s in ring_points(n_shards, n_vnodes)
        )
        return f"{name}(pos, shard) AS (SELECT * FROM (VALUES {rows}))"

    pos = _hex8_int_sql("md5('doc:' || CAST(doc_id AS VARCHAR))")

    def assign(name: str) -> str:
        return f"""(
    SELECT d.doc_id,
           coalesce(
               (SELECT arg_min(shard, pos) FROM {name}
                WHERE pos >= d.p),
               (SELECT arg_min(shard, pos) FROM {name})
           ) AS shard
    FROM srdocs d)"""

    return _materialize(
        f"""
WITH {ring_values("ringb", n_shards_before)},
{ring_values("ringa", n_shards_after)},
srdocs AS (
    SELECT doc_id, {pos} AS p FROM documents
),
ab AS (
    SELECT CAST(b.shard AS BIGINT) AS shard_before,
           CAST(a.shard AS BIGINT) AS shard_after
    FROM {assign("ringb")} b JOIN {assign("ringa")} a USING (doc_id)
),
srmat AS (
    SELECT shard_before, shard_after, CAST(count(*) AS BIGINT) AS n_docs
    FROM ab GROUP BY shard_before, shard_after
)
SELECT shard_before, shard_after, n_docs,
       CAST(CASE WHEN shard_before <> shard_after THEN 1 ELSE 0 END
            AS BIGINT) AS is_move,
       CAST(n_docs * 1000000 // (SELECT sum(n_docs) FROM srmat)
            AS BIGINT) AS share_ppm
FROM srmat
""",
        "srdocs", "srmat",
    )


def rel_k_anonymity(k: int = 5, l_div: int = 3) -> str:
    """k-anonymity / l-diversity twin (ops/curation.py k_anonymity): the
    same (event_type, day, floor(value/100)) quasi-identifier and the
    two-level aggregate (per-user first, so distinct users = count(*))."""
    return f"""
WITH kan1 AS (
    SELECT event_type,
           CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                AS BIGINT) AS day,
           CAST(floor(value / 100) AS BIGINT) AS value_bucket,
           user_id, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY ALL
)
SELECT event_type, day, value_bucket,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(CASE WHEN sum(n) < {int(k)} THEN 1 ELSE 0 END AS BIGINT)
           AS is_k_violation,
       CAST(CASE WHEN count(*) < {int(l_div)} THEN 1 ELSE 0 END AS BIGINT)
           AS is_l_violation
FROM kan1 GROUP BY event_type, day, value_bucket
"""


def ann_nndescent(
    k: int = 5, nbits: int = 8, dim: int = 64
) -> str:
    """NN-Descent-round twin (ops/simsearch.py nn_descent_round):
    multiprobe SRP init (Hamming-radius-1 ball — single-bucket init is
    transitively closed and discovers nothing) with the md5-ordered
    adaptive bucket cap, undirected local-join candidates (co-neighbors
    at a shared center union the reverse edges), rounded-cosine
    re-score, top-k over old-union-new with min(src) as is_new."""
    from unsupervised_ner_spark.ops.simsearch import srp_signs

    signs = srp_signs(nbits, dim)
    bit_terms = " + ".join(
        "CASE WHEN round(list_dot_product(v, ["
        + ", ".join(str(s) for s in signs[b])
        + f"]), 9) >= 0 THEN {1 << b} ELSE 0 END"
        for b in range(nbits)
    )
    flips = ", ".join(f"xor(bucket, {1 << b})" for b in range(nbits))

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), 9)"
        )

    return _materialize(
        f"""
WITH nde AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ndh AS (SELECT vec_id, v, CAST({bit_terms} AS BIGINT) AS bucket FROM nde),
ndc0 AS (SELECT GREATEST(count(*), 1) AS n,
                CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT)
                    AS c
         FROM nde),
ndcap AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS cap
          FROM ndc0),
ndm AS (
    SELECT vec_id AS w_id, v AS wv, bucket FROM (
        SELECT vec_id, v, bucket,
               row_number() OVER (
                   PARTITION BY bucket
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS mrank
        FROM ndh)
    WHERE mrank <= (SELECT cap FROM ndcap)
),
ndp AS (
    SELECT vec_id AS u_id, v, unnest([bucket, {flips}]) AS bucket
    FROM ndh
),
ndinit AS (
    SELECT u_id, w_id, cos FROM (
        SELECT u_id, w_id, cos,
               row_number() OVER (PARTITION BY u_id
                                  ORDER BY cos DESC, w_id) AS rk
        FROM (SELECT p.u_id, m.w_id, {cos("p.v", "m.wv")} AS cos
              FROM ndp p JOIN ndm m USING (bucket)
              WHERE p.u_id <> m.w_id))
    WHERE rk <= {k}
),
ndund AS (
    SELECT u_id AS center, w_id AS nbr FROM ndinit
    UNION
    SELECT w_id, u_id FROM ndinit
),
ndcand AS (
    SELECT c1.nbr AS u_id, c2.nbr AS w_id
    FROM ndund c1 JOIN ndund c2 USING (center)
    WHERE c1.nbr <> c2.nbr
    UNION
    SELECT center, nbr FROM ndund
),
ndscored AS (
    SELECT c.u_id, c.w_id, {cos("a.v", "b.v")} AS cos
    FROM ndcand c
    JOIN nde a ON a.vec_id = c.u_id
    JOIN nde b ON b.vec_id = c.w_id
),
ndall AS (
    SELECT u_id, w_id, max(cos) AS cos, CAST(min(src) AS BIGINT) AS is_new
    FROM (SELECT u_id, w_id, cos, 0 AS src FROM ndinit
          UNION ALL
          SELECT u_id, w_id, cos, 1 AS src FROM ndscored)
    GROUP BY u_id, w_id
)
SELECT u_id AS node_id, CAST(rk AS BIGINT) AS rank, w_id AS neighbor_id,
       CAST(floor(cos * 1000) AS BIGINT) AS cos_mil, is_new
FROM (SELECT u_id, w_id, cos, is_new,
             row_number() OVER (PARTITION BY u_id
                                ORDER BY cos DESC, w_id) AS rk
      FROM ndall)
WHERE rk <= {k}
""",
        "nde", "ndh", "ndinit", "ndund",
    )


def mm_audio_match(
    frame_bytes: int = 32,
    n_bands: int = 32,
    max_dt: int = 3,
    min_aligned: int = 8,
    splice_mod: int = 13,
) -> str:
    """Audio constellation-match twin (ops/multimodal.py
    audio_fingerprints + audio_match_pairs over the entry wrapper's
    shifted-copy splice): per-frame byte filterbank via one
    position-unnest aggregate, peak per frame (energy DESC, band ASC),
    fan-out pair hashes, df-capped inverted index, offset votes, modal
    offset per doc pair."""
    fb, nb, md = int(frame_bytes), int(n_bands), int(max_dt)
    return _materialize(
        f"""
WITH amd AS (
    SELECT d.doc_id,
           CASE WHEN d.doc_id % {int(splice_mod)} = 0 AND n.text IS NOT NULL
                THEN repeat('x', 64) || n.text ELSE d.text END AS audio
    FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
),
ambe AS (
    SELECT doc_id,
           CAST((p - 1) // {fb} AS BIGINT) AS t,
           CAST((p - 1) % {nb} AS BIGINT) AS band,
           CAST(sum(ord(substr(audio, CAST(p AS INT), 1))) AS BIGINT)
               AS energy
    FROM (SELECT doc_id, audio,
                 unnest(generate_series(1, length(audio))) AS p
          FROM amd WHERE length(audio) > 0)
    GROUP BY 1, 2, 3
),
ampk AS (
    SELECT doc_id, t, band AS f FROM (
        SELECT doc_id, t, band,
               row_number() OVER (PARTITION BY doc_id, t
                                  ORDER BY energy DESC, band) AS rk
        FROM ambe)
    WHERE rk = 1
),
amfp AS (
    SELECT a.doc_id, a.t,
           CAST((a.f * {nb} + b.f) * {md + 1} + (b.t - a.t) AS BIGINT)
               AS fp_hash
    FROM ampk a JOIN ampk b
      ON b.doc_id = a.doc_id AND b.t - a.t BETWEEN 1 AND {md}
),
amc0 AS (
    SELECT GREATEST(count(DISTINCT doc_id), 1) AS n,
           CAST(round(pow(GREATEST(count(DISTINCT doc_id), 1), 1.0/3), 0)
                AS BIGINT) AS c
    FROM amfp
),
amcap AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS cap
          FROM amc0),
amel AS (
    SELECT fp_hash FROM (
        SELECT fp_hash, count(DISTINCT doc_id) AS nd
        FROM amfp GROUP BY fp_hash)
    WHERE nd >= 2 AND nd <= (SELECT cap FROM amcap)
),
amk AS (SELECT f.doc_id, f.t, f.fp_hash
        FROM amfp f JOIN amel e USING (fp_hash)),
amv AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(a.t - b.t AS BIGINT) AS "offset",
           CAST(count(*) AS BIGINT) AS n
    FROM amk a JOIN amk b ON a.fp_hash = b.fp_hash
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2, 3
)
SELECT doc_a, doc_b, "offset", n AS n_aligned, n_shared FROM (
    SELECT doc_a, doc_b, "offset", n,
           row_number() OVER (PARTITION BY doc_a, doc_b
                              ORDER BY n DESC, "offset") AS rk,
           CAST(sum(n) OVER (PARTITION BY doc_a, doc_b) AS BIGINT)
               AS n_shared
    FROM amv)
WHERE rk = 1 AND n >= {int(min_aligned)}
""",
        "amfp", "amk",
    )


def txt_boilerplate(min_ratio_ppm: int = 300000) -> str:
    """Host-boilerplate twin (ops/textstats.py host_boilerplate over the
    txt_line_dedup multi-line construction): per-source header (100%),
    every-third-doc footer (~33%), unique 8-word body lines; two-level
    distinct (source, norm, doc) aggregate then the per-host ppm ratio
    with the same floor division and strict > compare."""
    return _materialize(
        f"""
WITH hbw AS (
    SELECT doc_id, string_split(text, ' ') AS ws, source FROM documents
),
hbdirty AS (
    SELECT doc_id, source,
           '(c) ' || source || ' media network all rights reserved'
           || chr(10)
           || array_to_string(
                list_transform(
                    range((len(ws) + 7) // 8),
                    i -> array_to_string(ws[i * 8 + 1 : i * 8 + 8], ' ')),
                chr(10))
           || CASE WHEN doc_id % 3 = 0
                   THEN chr(10) || 'subscribe to our newsletter for daily updates'
                   ELSE '' END AS text
    FROM hbw
),
hbln AS (
    SELECT d.source, d.doc_id,
           trim(lower(string_split(d.text, chr(10))[u.i + 1])) AS norm
    FROM hbdirty d,
         UNNEST(generate_series(0, len(string_split(d.text, chr(10))) - 1))
             AS u(i)
),
hb1 AS (SELECT source, norm, doc_id FROM hbln GROUP BY ALL),
hbpl AS (
    SELECT source, norm, CAST(count(*) AS BIGINT) AS n_docs_line
    FROM hb1 GROUP BY source, norm
),
hbh AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs_host
    FROM documents GROUP BY source
)
SELECT p.source, p.norm, p.n_docs_line, h.n_docs_host,
       CAST(p.n_docs_line * 1000000 // h.n_docs_host AS BIGINT)
           AS ratio_ppm,
       CAST(CASE WHEN p.n_docs_line * 1000000 // h.n_docs_host
                      > {int(min_ratio_ppm)}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_boilerplate
FROM hbpl p JOIN hbh h USING (source)
""",
        "hb1",
    )


def er_geo_pairs(radius: int = 20000) -> str:
    """Geo near-pair twin (ops/dedup.py geo_near_pairs over the entry
    wrapper's deterministic md5-derived points): same integer
    micro-degree coordinates, 3x3 probe-cell equi-join, pid_a < pid_b,
    exact squared-distance verify."""
    r = int(radius)
    h_city = _hex8_int_sql("md5('city:' || event_type)")
    h_lat = _hex8_int_sql("md5('lat:' || CAST(event_id AS VARCHAR))")
    h_cty2 = _hex8_int_sql("md5('cty2:' || event_type)")
    h_lon = _hex8_int_sql("md5('lon:' || CAST(event_id AS VARCHAR))")
    lat = f"({h_city} % 120000001) - 60000000 + ({h_lat} % 400001) - 200000"
    lon = f"({h_cty2} % 360000001) - 180000000 + ({h_lon} % 400001) - 200000"
    return _materialize(
        f"""
WITH gpts AS (
    SELECT event_id AS pid, CAST({lat} AS BIGINT) AS lat,
           CAST({lon} AS BIGINT) AS lon
    FROM events
),
gcell AS (
    SELECT pid, lat, lon, lat // {r} AS cx, lon // {r} AS cy FROM gpts
),
gprobe AS (
    SELECT pid AS pid_a, lat AS lat_a, lon AS lon_a,
           cx + u1.dx AS cx, cy + u2.dy AS cy
    FROM gcell,
         (SELECT unnest([-1, 0, 1]) AS dx) u1,
         (SELECT unnest([-1, 0, 1]) AS dy) u2
)
SELECT a.pid_a, b.pid AS pid_b,
       CAST((a.lat_a - b.lat) * (a.lat_a - b.lat)
            + (a.lon_a - b.lon) * (a.lon_a - b.lon) AS BIGINT) AS d2
FROM gprobe a JOIN gcell b ON a.cx = b.cx AND a.cy = b.cy
WHERE a.pid_a < b.pid
  AND (a.lat_a - b.lat) * (a.lat_a - b.lat)
      + (a.lon_a - b.lon) * (a.lon_a - b.lon) < {r * r}
""",
        "gcell",
    )


def kg_conjunct_facts(mod: int, rem: int, verb_terms: list[str]) -> str:
    """Coordination-expansion twin (pipeline/triples.py conjunct_facts):
    CONJ_PAT imported verbatim, the 2/3-item conjunction splice replayed
    byte-identically over the shared e-node naming, per-conjunct unnest
    with position and arity."""
    from unsupervised_ner_spark.pipeline.triples import CONJ_PAT

    pat = CONJ_PAT.replace("'", "''")
    v_arr = "[" + ", ".join(f"'{t}'" for t in verb_terms) + "]"
    node = "'e' || lpad(CAST({expr} % 12 AS VARCHAR), 2, '0')"
    s0 = node.format(expr="doc_id")
    s1 = node.format(expr="(doc_id + 3)")
    s2 = node.format(expr="(doc_id + 6)")
    ob = node.format(expr="(doc_id + 7)")
    sents = SENTS_CTE.replace("FROM documents", "FROM cjdocs")
    assert "cjdocs" in sents
    return f"""
WITH cjpick AS (
    SELECT doc_id, text,
           CASE WHEN doc_id % 2 = 0
                THEN {s0} || ' and ' || {s1}
                ELSE {s0} || ', ' || {s1} || ' and ' || {s2} END AS lst,
           ({v_arr})[CAST(doc_id % {len(verb_terms)} AS INT) + 1] AS v,
           {ob} AS ob
    FROM documents
),
cjdocs AS (
    SELECT doc_id,
           CASE WHEN doc_id % {int(mod)} = {int(rem)}
                THEN text || chr(10) || lst || ' ' || v || ' ' || ob
                ELSE text END AS text
    FROM cjpick
),
{sents.strip()},
cjcand AS (
    SELECT url, sent_idx,
           regexp_extract(sent, '{pat}', 1) AS subj_list,
           regexp_extract(sent, '{pat}', 2) AS pred,
           regexp_extract(sent, '{pat}', 3) AS obj
    FROM sents
),
cjm AS (
    SELECT url, sent_idx, pred, obj,
           regexp_split_to_array(subj_list, ', | and ') AS conj
    FROM cjcand WHERE length(subj_list) > 0
)
SELECT url, sent_idx,
       conj[u.i + 1] AS subj, pred, obj,
       CAST(u.i AS BIGINT) AS conj_idx,
       CAST(len(conj) AS BIGINT) AS n_conjuncts
FROM cjm, UNNEST(generate_series(0, len(conj) - 1)) AS u(i)
"""


def rel_rate_anomaly(
    window_days: int = 7, num: int = 5, den: int = 4,
    min_prior_days: int = 3,
) -> str:
    """Rate-anomaly twin (ops/asof.py rate_anomaly): the same bounded
    (type, day) aggregate, RANGE trailing frame, exact cross-multiplied
    num/den compare and cold-start rule."""
    w, n_, d_, mp = (
        int(window_days), int(num), int(den), int(min_prior_days)
    )
    return f"""
WITH rad AS (
    SELECT event_type,
           CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                AS BIGINT) AS day,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
raw2 AS (
    SELECT event_type, day, n_events,
           CAST(COALESCE(sum(n_events) OVER tw, 0) AS BIGINT) AS prior_sum,
           CAST(count(*) OVER tw AS BIGINT) AS n_prior_days
    FROM rad
    WINDOW tw AS (PARTITION BY event_type ORDER BY day
                  RANGE BETWEEN {w} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n_events, prior_sum, n_prior_days,
       CAST(CASE WHEN n_prior_days >= {mp}
                  AND n_events * n_prior_days * {d_} > {n_} * prior_sum
                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly,
       CAST(CASE WHEN n_prior_days < {mp} THEN 1 ELSE 0 END AS BIGINT)
           AS is_coldstart
FROM raw2
"""


def rel_fd_audit(
    cols: tuple = ("event_type", "day", "weekday", "vbucket"),
) -> str:
    """FD-audit twin (ops/curation.py fd_audit over the entry wrapper's
    derived columns): one distinct-combination collapse, then per
    ordered pair the bounded per-lhs re-aggregation and the same
    verdict / ppm expressions."""
    day = "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)"
    base = f"""fdc AS (
    SELECT event_type, {day} AS day, {day} % 7 AS weekday,
           CAST(floor(value / 100) AS BIGINT) AS vbucket,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1, 2, 3, 4
)"""
    viol = "sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)"
    parts = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            parts.append(f"""
SELECT '{a}' AS lhs, '{b}' AS rhs,
       CAST(count(*) AS BIGINT) AS n_lhs_values,
       CAST(sum(n_rhs) AS BIGINT) AS n_pairs,
       CAST({viol} AS BIGINT) AS n_violating_lhs,
       CAST(CASE WHEN {viol} = 0 THEN 1 ELSE 0 END AS BIGINT) AS is_fd,
       CAST({viol} * 1000000 // count(*) AS BIGINT) AS violation_ppm
FROM (SELECT {a}, CAST(count(*) AS BIGINT) AS n_rhs
      FROM (SELECT {a}, {b} FROM fdc GROUP BY {a}, {b}) GROUP BY {a})""")
    return _materialize(
        "WITH " + base + "\n" + "\nUNION ALL\n".join(parts), "fdc"
    )


def rel_join_estimate(rate_mod: int = 16) -> str:
    """Join-estimate twin (ops/layout.py join_estimate): the same key
    aggregates, md5 %-sample flag, and one audit row of exact truth vs
    scaled estimate with signed ppm error."""
    m = int(rate_mod)
    h = _hex8_int_sql("md5(CAST(jel.k AS VARCHAR))")
    est = f"COALESCE(sum(CASE WHEN sampled THEN prod END), 0) * {m}"
    return f"""
WITH jel AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c_l
             FROM orders GROUP BY 1),
jer AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c_r
        FROM lineitem GROUP BY 1),
jek AS (SELECT jel.k, c_l * c_r AS prod, ({h} % {m} = 0) AS sampled
        FROM jel JOIN jer ON jel.k = jer.k)
SELECT CAST(count(*) AS BIGINT) AS n_keys_both,
       CAST(sum(prod) AS BIGINT) AS exact_rows,
       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sample_keys,
       CAST({est} AS BIGINT) AS est_rows,
       CAST(CASE WHEN {est} >= sum(prod) THEN 1 ELSE -1 END AS BIGINT)
           AS err_sign,
       CAST(abs({est} - sum(prod)) * 1000000 // sum(prod) AS BIGINT)
           AS err_ppm
FROM jek
"""


def er_bcubed(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None
) -> str:
    """B-cubed twin (pipeline/er.py bcubed_score over the planted-copy
    splice + the dedup_clusters chain): the clusters SQL is the existing
    RECURSIVE twin re-pointed at the augmented corpus (every FROM
    documents -> FROM bcdocs, occurrence-asserted), then the contingency
    cells and the documented floor-division ppm averages."""
    cl = dedup_clusters(num_hashes, band_size, max_bucket)
    n = cl.count("FROM documents")
    assert n == 3, f"dedup_clusters twin changed shape ({n} doc scans)"
    cl = cl.replace("FROM documents", "FROM bcdocs")
    return f"""
WITH bcdocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(ws[1 : (len(ws) * 4 + 4) // 5], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id % 9 = 4
),
bccl AS (SELECT doc_id, cluster_id FROM ({cl}) _cl),
bca AS (
    SELECT d.doc_id AS item,
           COALESCE(c.cluster_id, d.doc_id) AS pred,
           CASE WHEN d.doc_id >= 1000000 THEN d.doc_id - 1000000
                ELSE d.doc_id END AS truth
    FROM bcdocs d LEFT JOIN bccl c ON c.doc_id = d.doc_id
),
bcc AS (
    SELECT pred, truth, CAST(count(*) AS BIGINT) AS n_ct
    FROM bca GROUP BY pred, truth
),
bcp AS (SELECT pred, CAST(sum(n_ct) AS BIGINT) AS n_c FROM bcc GROUP BY pred),
bct AS (SELECT truth, CAST(sum(n_ct) AS BIGINT) AS n_t FROM bcc GROUP BY truth),
bcn AS (SELECT CAST(sum(n_ct) AS BIGINT) AS n_items FROM bcc),
bcpr AS (
    SELECT CAST(sum(n_ct * (n_ct * 1000000 // n_c))
                // (SELECT n_items FROM bcn) AS BIGINT) AS b3_precision_ppm
    FROM bcc JOIN bcp USING (pred)
),
bcre AS (
    SELECT CAST(sum(n_ct * (n_ct * 1000000 // n_t))
                // (SELECT n_items FROM bcn) AS BIGINT) AS b3_recall_ppm
    FROM bcc JOIN bct USING (truth)
)
SELECT (SELECT n_items FROM bcn) AS n_items,
       b3_precision_ppm, b3_recall_ppm,
       CAST(2 * b3_precision_ppm * b3_recall_ppm
            // (b3_precision_ppm + b3_recall_ppm) AS BIGINT) AS b3_f1_ppm
FROM bcpr, bcre
"""


def txt_source_jaccard(k: int = 64) -> str:
    """Source-overlap twin (ops/sketches.py source_jaccard): the same
    distinct (source, token) collapse, md5_int32 KMV sketches, merged
    k-smallest with membership flags, and the exact intersection/union
    replay with identical ppm floors."""
    kk = int(k)
    h = _hex8_int_sql("md5(tok)")
    return _materialize(
        f"""
WITH sjt AS (
    SELECT source, tok, CAST({h} AS BIGINT) AS h FROM (
        SELECT source, unnest({_LOWTOKS}) AS tok FROM documents)
    GROUP BY source, tok, 3
),
sjsk AS (
    SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h, tok)
                   AS rk
        FROM sjt)
    WHERE rk <= {kk}
),
sjp AS (
    SELECT a.source AS source_a, b.source AS source_b
    FROM (SELECT DISTINCT source FROM sjt) a,
         (SELECT DISTINCT source FROM sjt) b
    WHERE a.source < b.source
),
sju AS (
    SELECT source_a, source_b, h,
           max(in_a) AS in_a, max(in_b) AS in_b
    FROM (
        SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
        FROM sjp p JOIN sjsk s ON s.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, s.h, 0, 1
        FROM sjp p JOIN sjsk s ON s.source = p.source_b)
    GROUP BY source_a, source_b, h
),
sje AS (
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS kmv_k,
           CAST(sum(in_a * in_b) AS BIGINT) AS kmv_matches
    FROM (
        SELECT source_a, source_b, in_a, in_b,
               row_number() OVER (PARTITION BY source_a, source_b
                                  ORDER BY h) AS rk
        FROM sju)
    WHERE rk <= {kk}
    GROUP BY source_a, source_b
),
sjn AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_voc
    FROM sjt GROUP BY source
),
sji AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_intersect
    FROM sjt a JOIN sjt b ON a.tok = b.tok AND a.source < b.source
    GROUP BY 1, 2
)
SELECT e.source_a, e.source_b,
       na.n_voc AS n_a, nb.n_voc AS n_b,
       COALESCE(i.n_intersect, 0) AS n_intersect,
       CAST(COALESCE(i.n_intersect, 0) * 1000000
            // (na.n_voc + nb.n_voc - COALESCE(i.n_intersect, 0)) AS BIGINT)
           AS exact_jaccard_ppm,
       e.kmv_k, e.kmv_matches,
       CAST(e.kmv_matches * 1000000 // e.kmv_k AS BIGINT)
           AS est_jaccard_ppm,
       CAST(abs(e.kmv_matches * 1000000 // e.kmv_k
                - COALESCE(i.n_intersect, 0) * 1000000
                  // (na.n_voc + nb.n_voc - COALESCE(i.n_intersect, 0))) AS BIGINT)
           AS err_ppm
FROM sje e
LEFT JOIN sji i USING (source_a, source_b)
JOIN sjn na ON na.source = e.source_a
JOIN sjn nb ON nb.source = e.source_b
""",
        "sjt", "sjsk",
    )


def kg_shacl_card(shapes: list[tuple[str, int]]) -> str:
    """SHACL cardinality twin (pipeline/er.py shacl_cardinality over the
    entry wrapper's fan-out splice): distinct triples, (subj, pred)
    object counts, shapes VALUES join, verdict + excess."""
    preds = [p for p, _ in shapes]
    arr = "[" + ", ".join(f"'{p}'" for p in preds) + "]"
    rows = ", ".join(f"('{p}', {int(c)})" for p, c in shapes)
    draw = _hex8_int_sql("md5('shacl:' || CAST(doc_id AS VARCHAR))")
    return f"""
WITH shf AS (
    SELECT 's' || CAST(doc_id % 10 AS VARCHAR) AS subj,
           ({arr})[CAST(doc_id % 3 AS INT) + 1] AS pred,
           'o' || CAST(CASE ({arr})[CAST(doc_id % 3 AS INT) + 1]
                  WHEN 'owns' THEN {draw} % (1 + (doc_id % 10) % 6)
                  WHEN 'manages' THEN {draw} % (1 + (doc_id % 10) % 2)
                  ELSE 0 END AS VARCHAR) AS obj
    FROM documents
),
shd AS (SELECT subj, pred, obj FROM shf GROUP BY ALL),
shp AS (SELECT subj, pred, CAST(count(*) AS BIGINT) AS n_objs
        FROM shd GROUP BY subj, pred),
shs(pred, max_card) AS (SELECT * FROM (VALUES {rows}))
SELECT p.subj, p.pred, p.n_objs, CAST(s.max_card AS BIGINT) AS max_card,
       CAST(CASE WHEN p.n_objs > s.max_card THEN 1 ELSE 0 END AS BIGINT)
           AS is_violation,
       CAST(GREATEST(p.n_objs - s.max_card, 0) AS BIGINT) AS excess
FROM shp p JOIN shs s USING (pred)
"""


def rel_decay_score(half_life_days: int = 7, max_halvings: int = 62) -> str:
    """Decay-score twin (ops/asof.py decay_score): the same cents
    rounding, whole-period halving count clamped at the shift ceiling,
    integer 2^k division, and per-user aggregate."""
    hl, mh = int(half_life_days), int(max_halvings)
    day = "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)"
    return f"""
WITH dmax AS (SELECT max({day}) AS max_day FROM events),
dct AS (
    SELECT user_id, {day} AS day,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
dcc AS (
    SELECT user_id, cents, day, max_day,
           cents // (CAST(1 AS BIGINT)
                     << CAST(least((max_day - day) // {hl}, {mh}) AS INT))
               AS decayed
    FROM dct, dmax
)
SELECT user_id,
       CAST(sum(decayed) AS BIGINT) AS decayed_cents,
       CAST(sum(cents) AS BIGINT) AS raw_cents,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(max_day) - max(day) AS BIGINT) AS days_since_last
FROM dcc GROUP BY user_id
"""


def rel_attribution() -> str:
    """Attribution twin (ops/asof.py touch_attribution): the same
    (epoch_us, event_id) per-user order, IGNORE-NULLS last/first window
    over the strictly-preceding frame, 'direct' fallback, and the long-
    form (model, channel) credit aggregate."""
    return """
WITH ats AS (
    SELECT user_id, event_type, epoch_us(ts) AS t, event_id AS eid,
           CASE WHEN event_type IN ('view', 'click')
                THEN event_type END AS touch,
           CASE WHEN event_type IN ('view', 'click')
                THEN epoch_us(ts) END AS touch_t,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
apu AS (
    SELECT * FROM (
        SELECT event_type, t, cents,
               last_value(touch IGNORE NULLS) OVER w AS last_ch,
               last_value(touch_t IGNORE NULLS) OVER w AS last_t,
               first_value(touch IGNORE NULLS) OVER w AS first_ch,
               first_value(touch_t IGNORE NULLS) OVER w AS first_t
        FROM ats
        WINDOW w AS (PARTITION BY user_id ORDER BY t, eid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ) WHERE event_type = 'purchase'
),
acr AS (
    SELECT 'last_touch' AS model, coalesce(last_ch, 'direct') AS channel,
           cents, coalesce(t - last_t, 0) AS lag_us
    FROM apu
    UNION ALL
    SELECT 'first_touch', coalesce(first_ch, 'direct'),
           cents, coalesce(t - first_t, 0)
    FROM apu
)
SELECT model, channel, CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(cents) AS BIGINT) AS cents,
       CAST(sum(lag_us) AS BIGINT) AS sum_lag_us
FROM acr GROUP BY model, channel
"""


def rel_debounce(threshold_us: int = 6 * 3600 * 1_000_000) -> str:
    """Debounce twin (ops/asof.py debounce): the same NULL-opens-island
    gap rule (gap <= threshold keeps the island; NULL lag falls to the
    ELSE-1 branch exactly like Spark's when/otherwise), running-sum
    island index, island aggregate, and lead-gap window."""
    thr = int(threshold_us)
    return f"""
WITH dbe AS (
    SELECT user_id, event_type, epoch_us(ts) AS t, event_id AS eid
    FROM events
),
dbf AS (
    SELECT user_id, event_type, t, eid,
           CASE WHEN t - lag(t) OVER (PARTITION BY user_id, event_type
                                      ORDER BY t, eid) <= {thr}
                THEN 0 ELSE 1 END AS is_start
    FROM dbe
),
dbi AS (
    SELECT user_id, event_type, t,
           CAST(sum(is_start) OVER (
               PARTITION BY user_id, event_type ORDER BY t, eid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS island_idx
    FROM dbf
),
dba AS (
    SELECT user_id, event_type, island_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(max(t) - min(t) AS BIGINT) AS span_us,
           min(t) AS s, max(t) AS e
    FROM dbi GROUP BY user_id, event_type, island_idx
)
SELECT user_id, event_type, island_idx, n_events, span_us,
       CAST(coalesce(
           s - lag(e) OVER (PARTITION BY user_id, event_type
                            ORDER BY island_idx),
           -1) AS BIGINT) AS lead_gap_us
FROM dba
"""


def kg_louvain_move(model: str = "a100", iterations: int = 4) -> str:
    """Louvain move-phase twin (pipeline/er.py louvain_move): the SAME
    unrolled LPA chain, then the exact-integer 2m^2-scaled gain
    ``2m*k_ic - k_i*(tot(c) - [c = own]*k_i)`` per (node, candidate
    community), the injected-own-row max() fold, the (score DESC,
    community ASC) argmax, and the strict > move rule."""
    chain, mats, prev = _lpa_ctes(iterations)
    return _materialize(
        f"""
WITH eg AS ({kg_cooccurrence(model)})
, {chain},
lvm AS (SELECT k, lbl FROM {prev}),
lvmt AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eg),
lvdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY src),
lvkic AS (
    SELECT s.src, l.lbl, CAST(count(*) AS BIGINT) AS k_ic
    FROM sym s JOIN lvm l ON l.k = s.dst
    GROUP BY s.src, l.lbl
),
lvtot AS (
    SELECT mb.lbl, CAST(sum(d.deg) AS BIGINT) AS tot
    FROM lvm mb JOIN lvdeg d ON d.src = mb.k GROUP BY mb.lbl
),
lvown AS (SELECT k AS src, lbl AS own_lbl FROM lvm),
lvcand AS (
    SELECT src, lbl, CAST(max(k_ic) AS BIGINT) AS k_ic FROM (
        SELECT src, lbl, k_ic FROM lvkic
        UNION ALL
        SELECT src, own_lbl AS lbl, CAST(0 AS BIGINT) AS k_ic FROM lvown
    ) GROUP BY src, lbl
),
lvsc AS (
    SELECT c.src, c.lbl, o.own_lbl,
           CAST(2 * t.m * c.k_ic
                - d.deg * (tt.tot - CASE WHEN c.lbl = o.own_lbl
                                         THEN d.deg ELSE 0 END)
                AS BIGINT) AS score
    FROM lvcand c
    JOIN lvown o ON o.src = c.src
    JOIN lvdeg d ON d.src = c.src
    JOIN lvtot tt ON tt.lbl = c.lbl
    CROSS JOIN lvmt t
),
lvbest AS (
    SELECT src, lbl AS best_lbl, score AS best_score, own_lbl FROM (
        SELECT src, lbl, own_lbl, score,
               row_number() OVER (PARTITION BY src
                                  ORDER BY score DESC, lbl ASC) AS rn
        FROM lvsc
    ) WHERE rn = 1
),
lvstay AS (SELECT src, score AS stay_score FROM lvsc WHERE lbl = own_lbl)
SELECT string_split(b.src, '|')[1] AS ent,
       string_split(b.src, '|')[2] AS etype,
       b.own_lbl AS community,
       CASE WHEN b.best_lbl <> b.own_lbl AND b.best_score > s.stay_score
            THEN b.best_lbl ELSE b.own_lbl END AS proposed,
       CAST(CASE WHEN b.best_lbl <> b.own_lbl
                  AND b.best_score > s.stay_score
                 THEN 1 ELSE 0 END AS BIGINT) AS moved,
       CAST(CASE WHEN b.best_lbl <> b.own_lbl
                  AND b.best_score > s.stay_score
                 THEN b.best_score - s.stay_score ELSE 0 END AS BIGINT)
           AS gain_x2m2
FROM lvbest b JOIN lvstay s ON s.src = b.src
""",
        "eg", *mats, "lvm", "lvdeg", "lvsc",
    )


def er_blocking_quality(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None
) -> str:
    """Blocking-quality twin (pipeline/er.py blocking_quality over the
    LSH candidate pairs): the existing dedup_minhash_lsh twin re-pointed
    at the planted-copy augmented corpus (every FROM documents ->
    FROM bqdocs, occurrence-asserted — the er_bcubed device), then the
    PC / PQ / RR ppm floors against the planted truth pairs."""
    lsh = dedup_minhash_lsh(num_hashes, band_size, max_bucket)
    n = lsh.count("FROM documents")
    assert n == 2, f"dedup_minhash_lsh twin changed shape ({n} doc scans)"
    lsh = lsh.replace("FROM documents", "FROM bqdocs")
    return _materialize(
        f"""
WITH bqdocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(ws[1 : (len(ws) * 4 + 4) // 5], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id % 9 = 4
),
bqc AS (SELECT doc_a, doc_b FROM ({lsh}) _c),
bqt AS (
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
    FROM documents WHERE doc_id % 9 = 4
),
bqn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM bqdocs),
bqcc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM bqc),
bqtc AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM bqt),
bqh AS (
    SELECT CAST(count(*) AS BIGINT) AS n_hit
    FROM bqc c JOIN bqt t USING (doc_a, doc_b)
)
SELECT n.n_docs, c.n_cand, t.n_truth, h.n_hit,
       CAST(h.n_hit * 1000000 // t.n_truth AS BIGINT) AS pc_ppm,
       CAST(CASE WHEN c.n_cand = 0 THEN 0
                 ELSE h.n_hit * 1000000 // c.n_cand END AS BIGINT) AS pq_ppm,
       CAST(1000000 - c.n_cand * 1000000
            // (n.n_docs * (n.n_docs - 1) // 2) AS BIGINT) AS rr_ppm
FROM bqn n, bqcc c, bqtc t, bqh h
""",
        "bqdocs", "bqc",
    )


def kg_temporal_conflicts(
    model: str = "a100",
    day_mod: int = 60,
    gap_days: int = 7,
    num: int = 4,
    den: int = 5,
) -> str:
    """Temporal-conflict twin (pipeline/triples.py interval_conflicts
    over production triples + the conflict splice with md5-drawn days):
    distinct observation days, gaps-and-islands intervals, the num/den
    functionality rule, and the per-(pred, subj) interval-overlap
    self-join."""
    draw = _hex8_int_sql("md5('tc:' || CAST(doc_id AS VARCHAR))")
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
tcp AS (
    SELECT subj, pred_norm, obj,
           CAST((1704067200 + (CAST(url AS BIGINT) % 97) * 86400
                 + (CAST(url AS BIGINT) % 24) * 3600) // 86400 AS BIGINT)
               AS day
    FROM trip
),
tcs AS (
    SELECT 's' || CAST(doc_id % 24 AS VARCHAR) AS subj,
           CASE WHEN doc_id % 2 = 0 THEN 'capital_of' ELSE 'near' END
               AS pred_norm,
           CASE WHEN doc_id % 2 = 0
                THEN CASE WHEN doc_id % 24 = 0
                          THEN 'v' || CAST((doc_id // 24) % 5 AS VARCHAR)
                          ELSE 'o' || CAST(doc_id % 24 AS VARCHAR) END
                ELSE 'w' || CAST((doc_id // 24) % 5 AS VARCHAR) END AS obj,
           CAST(({draw}) % {int(day_mod)} AS BIGINT) AS day
    FROM documents
),
tcd AS (
    SELECT subj, pred_norm, obj, day FROM (
        SELECT * FROM tcp UNION ALL SELECT * FROM tcs
    ) GROUP BY ALL
),
tcm AS (
    SELECT *,
           CASE WHEN lag(day) OVER w IS NULL
                  OR day - lag(day) OVER w > {int(gap_days)}
                THEN 1 ELSE 0 END AS nr
    FROM tcd
    WINDOW w AS (PARTITION BY subj, pred_norm, obj ORDER BY day)
),
tcr AS (
    SELECT *,
           CAST(sum(nr) OVER (PARTITION BY subj, pred_norm, obj
                              ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS ii
    FROM tcm
),
tci AS (
    SELECT subj, pred_norm, obj, ii,
           CAST(min(day) AS BIGINT) AS from_day,
           CAST(max(day) AS BIGINT) AS to_day
    FROM tcr GROUP BY subj, pred_norm, obj, ii
),
tcps AS (
    SELECT pred_norm, subj, CAST(count(DISTINCT obj) AS BIGINT) AS n_objs
    FROM tci GROUP BY pred_norm, subj
),
tcf AS (
    SELECT pred_norm FROM (
        SELECT pred_norm,
               CASE WHEN sum(CASE WHEN n_objs = 1 THEN 1 ELSE 0 END)
                         * {int(den)} >= count(*) * {int(num)}
                    THEN 1 ELSE 0 END AS isf
        FROM tcps GROUP BY pred_norm
    ) WHERE isf = 1
)
SELECT a.pred_norm, a.subj, a.obj AS obj_a, b.obj AS obj_b,
       a.from_day AS a_from, a.to_day AS a_to,
       b.from_day AS b_from, b.to_day AS b_to,
       CAST(least(a.to_day, b.to_day) - greatest(a.from_day, b.from_day)
            + 1 AS BIGINT) AS overlap_days
FROM tci a
JOIN tci b ON a.pred_norm = b.pred_norm AND a.subj = b.subj
          AND a.obj < b.obj
JOIN tcf f ON f.pred_norm = a.pred_norm
WHERE greatest(a.from_day, b.from_day) <= least(a.to_day, b.to_day)
""",
        "tci",
    )


def rel_histogram(n_buckets: int = 20) -> str:
    """Histogram twin (__spark_entry__.q_rel_histogram): the same exact
    integer bucket rule (x-gmin)*nb // span, integer-division edges,
    zero-filled grid, cumulative + ppm windows over the bounded table."""
    nb = int(n_buckets)
    return f"""
WITH rhe AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
rhr AS (
    SELECT min(cents) AS gmin, max(cents) - min(cents) + 1 AS span
    FROM rhe
),
rhc AS (
    SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT event_type, ((cents - gmin) * {nb}) // span AS bucket
        FROM rhe, rhr
    ) GROUP BY event_type, bucket
),
rht AS (SELECT DISTINCT event_type FROM rhe),
rhg AS (
    SELECT event_type, CAST(unnest(generate_series(0, {nb - 1})) AS BIGINT)
               AS bucket
    FROM rht
),
rhf AS (
    SELECT g.event_type, g.bucket,
           CAST(r.gmin + (r.span * g.bucket + {nb - 1}) // {nb} AS BIGINT)
               AS lo_cents,
           CAST(r.gmin + (r.span * (g.bucket + 1) + {nb - 1}) // {nb} - 1
                AS BIGINT) AS hi_cents,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n
    FROM rhg g
    CROSS JOIN rhr r
    LEFT JOIN rhc c ON c.event_type = g.event_type AND c.bucket = g.bucket
)
SELECT event_type, bucket, lo_cents, hi_cents, n,
       CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
       CAST((n * 1000000) // sum(n) OVER (PARTITION BY event_type)
            AS BIGINT) AS ppm
FROM rhf
"""


def rel_q18_bigcust(min_qty: int = 250) -> str:
    """Q18 twin (__spark_entry__.q_rel_q18_bigcust): pre-aggregated
    per-order quantity filter, orders + customer joins, exact cents,
    days-since-epoch order date, deterministic top-100."""
    return f"""
WITH qly AS (
    SELECT l_orderkey, CAST(round(l_quantity, 0) AS BIGINT) AS qty
    FROM lineitem
),
qbig AS (
    SELECT l_orderkey, CAST(sum(qty) AS BIGINT) AS sum_qty
    FROM qly GROUP BY l_orderkey HAVING sum(qty) > {int(min_qty)}
),
qo AS (
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
           CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                AS BIGINT) AS order_day
    FROM orders
)
SELECT o.o_orderkey, c.c_custkey, c.c_name, o.order_day,
       o.totalprice_cents, b.sum_qty
FROM qbig b
JOIN qo o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.totalprice_cents DESC, o.o_orderkey ASC
LIMIT 100
"""


def ann_beam_search(
    k: int = 5,
    beam: int = 5,
    rounds: int = 2,
    nbits: int = 8,
    dim: int = 64,
    query_mod: int = 97,
) -> str:
    """Beam-search twin (ops/simsearch.py graph_beam_search): the SAME
    multiprobe-SRP init kNN graph as the nn_descent twin, symmetrized;
    per query the md5-argmin entry, then ``rounds`` unrolled
    expand/rescore/prune steps with the (cos DESC, vec_id ASC) beam."""
    from unsupervised_ner_spark.ops.simsearch import srp_signs

    signs = srp_signs(nbits, dim)
    bit_terms = " + ".join(
        "CASE WHEN round(list_dot_product(v, ["
        + ", ".join(str(s) for s in signs[b])
        + f"]), 9) >= 0 THEN {1 << b} ELSE 0 END"
        for b in range(nbits)
    )
    flips = ", ".join(f"xor(bucket, {1 << b})" for b in range(nbits))

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), 9)"
        )

    steps = []
    prev = "bsb0"
    for r in range(1, rounds + 1):
        steps.append(
            f"""bsx{r} AS (
    SELECT q_id, vec_id FROM (
        SELECT b.q_id, a.dst AS vec_id
        FROM {prev} b JOIN bsadj a ON a.src = b.vec_id
        UNION ALL
        SELECT q_id, vec_id FROM {prev}
    ) GROUP BY q_id, vec_id
),
bss{r} AS (
    SELECT x.q_id, x.vec_id, {cos("q.qv", "e.v")} AS cos
    FROM bsx{r} x
    JOIN nde e ON e.vec_id = x.vec_id
    JOIN bsq q ON q.q_id = x.q_id
),
bsb{r} AS (
    SELECT q_id, vec_id, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                                     ORDER BY cos DESC, vec_id) AS rk
        FROM bss{r}
    ) WHERE rk <= {int(beam)}
)"""
        )
        prev = f"bsb{r}"
    chain = ",\n".join(steps)
    return _materialize(
        f"""
WITH nde AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ndh AS (SELECT vec_id, v, CAST({bit_terms} AS BIGINT) AS bucket FROM nde),
ndc0 AS (SELECT GREATEST(count(*), 1) AS n,
                CAST(round(pow(GREATEST(count(*), 1), 1.0/3), 0) AS BIGINT)
                    AS c
         FROM nde),
ndcap AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS cap
          FROM ndc0),
ndm AS (
    SELECT vec_id AS w_id, v AS wv, bucket FROM (
        SELECT vec_id, v, bucket,
               row_number() OVER (
                   PARTITION BY bucket
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS mrank
        FROM ndh)
    WHERE mrank <= (SELECT cap FROM ndcap)
),
ndp AS (
    SELECT vec_id AS u_id, v, unnest([bucket, {flips}]) AS bucket
    FROM ndh
),
ndinit AS (
    SELECT u_id, w_id, cos FROM (
        SELECT u_id, w_id, cos,
               row_number() OVER (PARTITION BY u_id
                                  ORDER BY cos DESC, w_id) AS rk
        FROM (SELECT p.u_id, m.w_id, {cos("p.v", "m.wv")} AS cos
              FROM ndp p JOIN ndm m USING (bucket)
              WHERE p.u_id <> m.w_id))
    WHERE rk <= {int(k)}
),
bsadj AS (
    SELECT u_id AS src, w_id AS dst FROM ndinit
    UNION
    SELECT w_id AS src, u_id AS dst FROM ndinit
),
bsq AS (
    SELECT vec_id AS q_id, v AS qv FROM nde
    WHERE vec_id % {int(query_mod)} = 0
),
bse AS (
    SELECT vec_id FROM ndh
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
),
bsb0 AS (
    SELECT q.q_id, e.vec_id, {cos("q.qv", "n.v")} AS cos
    FROM bsq q CROSS JOIN bse e JOIN nde n ON n.vec_id = e.vec_id
),
{chain}
SELECT q_id, CAST(rk AS BIGINT) AS rank, vec_id,
       CAST(floor(cos * 1000) AS BIGINT) AS cos_mil
FROM (
    SELECT q_id, vec_id, cos,
           row_number() OVER (PARTITION BY q_id
                              ORDER BY cos DESC, vec_id) AS rk
    FROM {prev}
)
""",
        "nde", "ndh", "ndinit", "bsadj", "bsq",
    )


def txt_span_corruption(noise_pct: int = 15) -> str:
    """Span-corruption twin (ops/packing.py span_corruption): the same
    md5(doc_id:pos) % 100 noise draw, consecutive-position span merge,
    and exact T5 encoder/decoder length formulas; zero-noise docs pass
    through via the left join."""
    draw = _hex8_int_sql(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR))"
    )
    return _materialize(
        f"""
WITH scb AS (
    SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok
    FROM documents WHERE len({_TOKS}) > 0
),
scp AS (
    SELECT doc_id, n_tok, u.pos
    FROM scb, UNNEST(generate_series(0, CAST(n_tok - 1 AS INT))) AS u(pos)
),
scn AS (
    SELECT doc_id, n_tok, pos FROM scp
    WHERE ({draw}) % 100 < {int(noise_pct)}
),
scm AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 1
                THEN 1 ELSE 0 END AS new_span
    FROM scn
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
scd AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_noise,
           CAST(sum(new_span) AS BIGINT) AS n_spans
    FROM scm GROUP BY doc_id
)
SELECT b.doc_id, b.n_tok,
       CAST(coalesce(d.n_noise, 0) AS BIGINT) AS n_noise,
       CAST(coalesce(d.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(b.n_tok - coalesce(d.n_noise, 0) + coalesce(d.n_spans, 0)
            AS BIGINT) AS input_len,
       CAST(coalesce(d.n_noise, 0) + coalesce(d.n_spans, 0) + 1
            AS BIGINT) AS target_len
FROM scb b LEFT JOIN scd d ON d.doc_id = b.doc_id
""",
        "scb",
    )


def er_fs_patterns(model: str = "a100", ratio: int = 4) -> str:
    """FS pattern-table twin (pipeline/er.fs_patterns): the
    er_pair_features channel, the shared binarization, the 4-bit
    pattern collapse, and the exact cross-multiplied three-region
    rule."""
    r = int(ratio)
    return f"""
WITH pf AS ({er_pair_features(model=model)}),
fplab AS (
    SELECT CASE WHEN lev <= 1 THEN 1 ELSE 0 END AS m,
           CASE WHEN tok_overlap >= 1 THEN 1 ELSE 0 END AS f_tok,
           CASE WHEN sh_jaccard_ppm >= 500000 THEN 1 ELSE 0 END AS f_jac,
           CASE WHEN abs(len_a - len_b) <= 1 THEN 1 ELSE 0 END AS f_len,
           CASE WHEN substr(surf_a, 1, 2) = substr(surf_b, 1, 2)
                THEN 1 ELSE 0 END AS f_pre2
    FROM pf
),
fpagg AS (
    SELECT CAST(f_tok AS VARCHAR) || CAST(f_jac AS VARCHAR)
           || CAST(f_len AS VARCHAR) || CAST(f_pre2 AS VARCHAR) AS pattern,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(m) AS BIGINT) AS n_match,
           CAST(sum(1 - m) AS BIGINT) AS n_nonmatch
    FROM fplab GROUP BY 1
)
SELECT pattern, n_pairs, n_match, n_nonmatch,
       CASE WHEN n_match >= {r} * n_nonmatch THEN 'link'
            WHEN n_nonmatch >= {r} * n_match THEN 'nonlink'
            ELSE 'possible' END AS region
FROM fpagg
"""


def mm_caption_groups(splice_mod: int = 25, rehost_mod: int = 50) -> str:
    """Caption-group twin (ops/multimodal.py caption_groups over the
    entry wrapper's alt-caption + rehost pair splice): the existing
    pHash chain re-pointed at the augmented media, the pair table with
    'alt '-prefixed re-posts and +1,000,000 rehosts, and the cascaded
    two-level distinct aggregates."""
    cap = (
        "array_to_string(list_transform("
        f"{_TOKS}, t -> lower(t))[1:6], ' ')"
    )
    return _materialize(
        f"""
WITH cgdocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents
    WHERE doc_id % {int(rehost_mod)} = 0
),
cgh AS (
    SELECT doc_id AS img_id, phash_bits
    FROM ({mm_phash(source="cgdocs")}) _p
),
cgp AS (
    SELECT doc_id AS img_id, {cap} AS caption FROM documents
    UNION ALL
    SELECT doc_id AS img_id, 'alt ' || {cap} AS caption
    FROM documents WHERE doc_id % {int(splice_mod)} = 0
    UNION ALL
    SELECT doc_id + 1000000 AS img_id, {cap} AS caption
    FROM documents WHERE doc_id % {int(rehost_mod)} = 0
),
cgc AS (
    SELECT h.phash_bits, p.img_id, p.caption,
           CAST(count(*) AS BIGINT) AS n
    FROM cgp p JOIN cgh h USING (img_id)
    GROUP BY h.phash_bits, p.img_id, p.caption
),
cgi AS (
    SELECT phash_bits, CAST(count(*) AS BIGINT) AS n_images,
           CAST(sum(n) AS BIGINT) AS n_pairs
    FROM (SELECT phash_bits, img_id, CAST(sum(n) AS BIGINT) AS n
          FROM cgc GROUP BY phash_bits, img_id)
    GROUP BY phash_bits
),
cgk AS (
    SELECT phash_bits, CAST(count(*) AS BIGINT) AS n_captions,
           min(caption) AS rep_caption
    FROM (SELECT phash_bits, caption FROM cgc
          GROUP BY phash_bits, caption)
    GROUP BY phash_bits
)
SELECT i.phash_bits, i.n_images, i.n_pairs, k.n_captions, k.rep_caption
FROM cgi i JOIN cgk k USING (phash_bits)
""",
        "cgc",
    )


def txt_curriculum() -> str:
    """Curriculum twin (ops/curation.py curriculum_order): quality
    classes from the shared integer stats, stage = the fixed
    good/lowlex/boilerplate/short index, and the FLAT (stage, md5,
    doc_id) dense rank — equal to the engine's two-level prefix sum
    because the bucket is a prefix of the md5."""
    return f"""
WITH cqs AS (
    SELECT doc_id,
           len({_TOKS}) AS n_tokens,
           len(list_distinct({_LOWTOKS})) AS n_distinct_tokens,
           len(list_filter({_LOWTOKS}, t -> list_contains({_EN_SW}, t)))
               AS n_stopword_tokens
    FROM documents
),
cqq AS (
    SELECT doc_id,
           CASE WHEN n_tokens < 5 THEN 'short'
                WHEN n_stopword_tokens * 100 < n_tokens * 3
                    THEN 'boilerplate'
                WHEN n_distinct_tokens * 100 < n_tokens * 40 THEN 'lowlex'
                ELSE 'good' END AS quality
    FROM cqs
),
cqr AS (
    SELECT doc_id, quality,
           CAST(CASE quality WHEN 'good' THEN 0 WHEN 'lowlex' THEN 1
                WHEN 'boilerplate' THEN 2 ELSE 3 END AS BIGINT) AS stage,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM cqq
)
SELECT doc_id, quality, stage,
       CAST(row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS BIGINT)
           AS curriculum_rank
FROM cqr
"""


def rel_q4_priority(late_days: int = 90) -> str:
    """Q4-shape twin (__spark_entry__.q_rel_q4_priority): distinct late
    order keys from the lineitem x orders date test, left-join flag,
    bounded priority census with exact ppm."""
    return f"""
WITH q4o AS (
    SELECT o_orderkey, o_orderpriority, o_orderdate FROM orders
),
q4late AS (
    SELECT DISTINCT l.l_orderkey AS late_key
    FROM lineitem l
    JOIN q4o o ON o.o_orderkey = l.l_orderkey
    WHERE datediff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) > {int(late_days)}
),
q4f AS (
    SELECT o.o_orderpriority,
           CASE WHEN t.late_key IS NOT NULL THEN 1 ELSE 0 END AS is_late
    FROM q4o o LEFT JOIN q4late t ON t.late_key = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(is_late) AS BIGINT) AS n_late,
       CAST(sum(is_late) * 1000000 // count(*) AS BIGINT) AS late_ppm
FROM q4f GROUP BY o_orderpriority
"""


def rel_streaks() -> str:
    """Streak twin (ops/asof.py activity_streaks): distinct epoch days,
    NULL-or-gap>1 opens a streak, running-sum numbering, island
    aggregate, per-user rollup with the (len DESC, start ASC) longest
    pick and the max-start last streak."""
    day = "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)"
    return f"""
WITH ska AS (
    SELECT user_id, {day} AS day FROM events GROUP BY user_id, 2
),
skm AS (
    SELECT user_id, day,
           CASE WHEN day - lag(day) OVER (PARTITION BY user_id
                                          ORDER BY day) = 1
                THEN 0 ELSE 1 END AS new_streak
    FROM ska
),
skr AS (
    SELECT user_id, day,
           CAST(sum(new_streak) OVER (PARTITION BY user_id ORDER BY day
                                      ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS streak_idx
    FROM skm
),
ski AS (
    SELECT user_id, streak_idx, CAST(count(*) AS BIGINT) AS len,
           CAST(min(day) AS BIGINT) AS start_day
    FROM skr GROUP BY user_id, streak_idx
)
SELECT user_id,
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(-((min(struct_pack(nl := -len, sd := start_day))).nl)
            AS BIGINT) AS longest_len,
       CAST((min(struct_pack(nl := -len, sd := start_day))).sd
            AS BIGINT) AS longest_start_day,
       CAST((max(struct_pack(sd := start_day, l := len))).l
            AS BIGINT) AS last_streak_len
FROM ski GROUP BY user_id
"""


def er_chain_audit(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None
) -> str:
    """Chain-audit twin (pipeline/er.py chain_audit over the planted
    A-B-C chain splice): the existing clusters + LSH-pairs twins
    re-pointed at the augmented corpus (the er_bcubed device), then the
    per-cluster direct-pair completeness and is_chained flag."""
    cl = dedup_clusters(num_hashes, band_size, max_bucket)
    n = cl.count("FROM documents")
    assert n == 3, f"dedup_clusters twin changed shape ({n} doc scans)"
    cl = cl.replace("FROM documents", "FROM cadocs")
    pr = dedup_minhash_lsh(num_hashes, band_size, max_bucket)
    np_ = pr.count("FROM documents")
    assert np_ == 2, f"dedup_minhash_lsh twin changed shape ({np_} doc scans)"
    pr = pr.replace("FROM documents", "FROM cadocs")
    return _materialize(
        f"""
WITH cadocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(ws[1 : (len(ws) * 3 + 4) // 5], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id % 20 = 7
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id,
           array_to_string(ws[(len(ws) * 2) // 5 + 1 : len(ws)], ' ')
               AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id % 20 = 7
),
cacl AS (SELECT doc_id, cluster_id FROM ({cl}) _c),
capr AS (SELECT doc_a, doc_b FROM ({pr}) _p),
caper AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
    FROM cacl GROUP BY cluster_id HAVING count(*) >= 2
),
cadir AS (
    SELECT c.cluster_id, CAST(count(*) AS BIGINT) AS n_direct
    FROM capr p JOIN cacl c ON c.doc_id = p.doc_a
    GROUP BY c.cluster_id
)
SELECT e.cluster_id, e.n_docs,
       CAST(coalesce(d.n_direct, 0) AS BIGINT) AS n_direct,
       CAST(2 * coalesce(d.n_direct, 0) * 1000000
            // (e.n_docs * (e.n_docs - 1)) AS BIGINT) AS completeness_ppm,
       CAST(CASE WHEN 2 * coalesce(d.n_direct, 0) * 1000000
                      // (e.n_docs * (e.n_docs - 1)) < 1000000
                 THEN 1 ELSE 0 END AS BIGINT) AS is_chained
FROM caper e LEFT JOIN cadir d ON d.cluster_id = e.cluster_id
""",
        "cadocs", "cacl",
    )


def ann_filtered_topk(n_queries: int = 5, k: int = 5) -> str:
    """Filtered-search twin (ops/simsearch.py filtered_topk): label
    equi-join prefilter, rounded-9 cosine, (cos DESC, vec_id ASC)
    top-k, per-query selectivity."""
    return f"""
WITH fte AS (
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
ftc AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n_label
    FROM fte GROUP BY label
),
ftq AS (
    SELECT e.vec_id AS query_id, e.label, e.v AS qv,
           CAST(c.n_label - 1 AS BIGINT) AS n_eligible
    FROM fte e JOIN ftc c USING (label)
    WHERE e.vec_id < {int(n_queries)}
),
fts AS (
    SELECT q.query_id, q.n_eligible, e.vec_id,
           round(list_dot_product(q.qv, e.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.v, e.v))), 9) AS cos
    FROM fte e JOIN ftq q USING (label)
    WHERE e.vec_id <> q.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id,
       CAST(floor(cos * 1000) AS BIGINT) AS cos_mil, n_eligible
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, vec_id) AS rank
    FROM fts
) WHERE rank <= {int(k)}
"""


def er_meta_blocking(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None
) -> str:
    """Meta-blocking twin (ops/dedup.py meta_blocking_pairs): the LSH
    band chain (shared text with dedup_minhash_lsh), pair weights by
    shared-block count, endpoint sums/counts, and the exact
    cross-multiplied WNP keep rule."""
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    band_rows = []
    for b in range(num_hashes // band_size):
        cols = " || '|' || ".join(
            f"mh_{b * band_size + j}" for j in range(band_size)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_rows)
    cap_cte, cap_bound = _lsh_bucket_cap(max_bucket)
    cap_cte = f"{cap_cte}," if cap_cte else ""
    return _materialize(
        f"""
WITH {_SHINGLES_CTE.strip()},
{cap_cte}
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({bands_sql}),
sizes_ok AS (
    SELECT band_id, band_hash FROM bands
    GROUP BY band_id, band_hash HAVING count(*) <= {cap_bound}
),
ok AS (
    SELECT b.* FROM bands b JOIN sizes_ok s USING (band_id, band_hash)
),
mbw AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS weight
    FROM ok a JOIN ok b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
mbe AS (
    SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
           CAST(count(*) AS BIGINT) AS w_n
    FROM (
        SELECT doc_a AS doc_id, weight FROM mbw
        UNION ALL
        SELECT doc_b AS doc_id, weight FROM mbw
    ) GROUP BY doc_id
)
SELECT w.doc_a, w.doc_b, w.weight,
       CAST(CASE WHEN w.weight * ea.w_n >= ea.w_sum
                   OR w.weight * eb.w_n >= eb.w_sum
                 THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM mbw w
JOIN mbe ea ON ea.doc_id = w.doc_a
JOIN mbe eb ON eb.doc_id = w.doc_b
""",
        "mbw",
    )


def rel_wow_change() -> str:
    """WoW twin (ops/asof.py wow_change): weekly counts on epoch-day
    div 7, lag window over the bounded weekly table, exact delta / ppm
    with the is_first sentinel."""
    week = (
        "CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        " AS BIGINT) // 7"
    )
    return f"""
WITH wwk AS (
    SELECT event_type, {week} AS week, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type, 2
),
wws AS (
    SELECT event_type, week, n,
           lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
    FROM wwk
)
SELECT event_type, week, n,
       CAST(coalesce(prev, 0) AS BIGINT) AS prev_n,
       CAST(coalesce(n - prev, 0) AS BIGINT) AS delta,
       CAST(coalesce((n - prev) * 1000000 // prev, 0) AS BIGINT)
           AS change_ppm,
       CAST(CASE WHEN prev IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_first
FROM wws
"""


def dedup_survivorship(
    num_hashes: int = 8, band_size: int = 2, max_bucket: int | None = None
) -> str:
    """Survivorship twin (ops/curation.py dedup_survivorship): the
    existing clusters twin, the shared doc-stats quality CASE, and the
    (stage, -n_tokens, doc_id) struct-min representative."""
    cl = dedup_clusters(num_hashes, band_size, max_bucket)
    return _materialize(
        f"""
WITH svc AS (SELECT doc_id, cluster_id FROM ({cl}) _c),
svs AS (
    SELECT doc_id,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CASE WHEN len({_TOKS}) < 5 THEN 'short'
                WHEN len(list_filter({_LOWTOKS},
                         t -> list_contains({_EN_SW}, t))) * 100
                     < len({_TOKS}) * 3 THEN 'boilerplate'
                WHEN len(list_distinct({_LOWTOKS})) * 100
                     < len({_TOKS}) * 40 THEN 'lowlex'
                ELSE 'good' END AS quality
    FROM documents
),
svj AS (
    SELECT c.cluster_id, s.doc_id, s.n_tokens, s.quality,
           CAST(CASE s.quality WHEN 'good' THEN 0 WHEN 'lowlex' THEN 1
                WHEN 'boilerplate' THEN 2 ELSE 3 END AS BIGINT) AS stage
    FROM svc c JOIN svs s USING (doc_id)
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST((min(struct_pack(st := stage, nt := -n_tokens, d := doc_id,
                             q := quality))).d AS BIGINT) AS rep_doc,
       (min(struct_pack(st := stage, nt := -n_tokens, d := doc_id,
                        q := quality))).q AS rep_quality,
       CAST(-((min(struct_pack(st := stage, nt := -n_tokens, d := doc_id,
                               q := quality))).nt) AS BIGINT) AS rep_tokens,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM svj GROUP BY cluster_id
""",
        "svc",
    )


def kg_isa_polarity(
    mod: int,
    hypo_terms: list[str],
    hyper_terms: list[str],
    hyper2_terms: list[str],
) -> str:
    """Polarity twin (pipeline/taxonomy.isa_polarity over the
    _polarity_docs splice): the shared Hearst splice EXTENDED with the
    residue-1 negated sentence, both regex extractions (patterns
    imported so the twins cannot drift), vocabulary-sized collapses,
    full outer join, verdict CASE."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        ISA_PAT, NEG_ISA_PAT, SUCHAS_PAT,
    )

    hyper2_arr = "[" + ", ".join(f"'{t}'" for t in hyper2_terms) + "]"
    art = (
        "(CASE WHEN substr({n}, 1, 1) IN ('a','e','i','o','u') "
        "THEN 'an' ELSE 'a' END)"
    )
    sents = SENTS_CTE.replace("FROM documents", "FROM docs3")
    assert "docs3" in sents
    return f"""
WITH {_hearst_docs2(mod, hypo_terms, hyper_terms, hyper2_terms)},
docs3 AS (
    SELECT p.doc_id,
           CASE WHEN p.doc_id % {mod} = 1
                THEN d.text || chr(10) || p.hypo || ' is not '
                     || {art.format(n="negh")} || ' ' || negh
                ELSE d.text END AS text
    FROM docs2 d
    JOIN (
        SELECT doc_id, hypo, hyper,
               CASE WHEN (doc_id % 7 + doc_id % 5) % 3 = 0 THEN hyper
                    ELSE ({hyper2_arr})[
                        CAST((doc_id // 3) % {len(hyper2_terms)} AS INT) + 1]
               END AS negh
        FROM picked
    ) p ON p.doc_id = d.doc_id
),
{sents.strip()},
plp AS (
    SELECT hypo, hyper, CAST(sum(n_sents) AS BIGINT) AS n_pos FROM (
        SELECT hypo, hyper, pattern, CAST(count(*) AS BIGINT) AS n_sents
        FROM (
            SELECT url, lower(regexp_extract(sent, '{ISA_PAT}', 1)) AS hypo,
                   regexp_extract(sent, '{ISA_PAT}', 2) AS hyper,
                   'isa' AS pattern
            FROM sents
            UNION ALL
            SELECT url, lower(regexp_extract(sent, '{SUCHAS_PAT}', 2)),
                   regexp_extract(sent, '{SUCHAS_PAT}', 1), 'such_as'
            FROM sents
        ) WHERE length(hypo) > 0 AND length(hyper) > 0
        GROUP BY hypo, hyper, pattern
    ) GROUP BY hypo, hyper
),
pln AS (
    SELECT hypo, hyper, CAST(count(*) AS BIGINT) AS n_neg FROM (
        SELECT lower(regexp_extract(sent, '{NEG_ISA_PAT}', 1)) AS hypo,
               regexp_extract(sent, '{NEG_ISA_PAT}', 2) AS hyper
        FROM sents
    ) WHERE length(hypo) > 0 AND length(hyper) > 0
    GROUP BY hypo, hyper
)
SELECT coalesce(p.hypo, n.hypo) AS hypo,
       coalesce(p.hyper, n.hyper) AS hyper,
       CAST(coalesce(p.n_pos, 0) AS BIGINT) AS n_pos,
       CAST(coalesce(n.n_neg, 0) AS BIGINT) AS n_neg,
       CASE WHEN coalesce(p.n_pos, 0) > 0 AND coalesce(n.n_neg, 0) > 0
            THEN 'contradicted'
            WHEN coalesce(p.n_pos, 0) > 0 THEN 'positive_only'
            ELSE 'negative_only' END AS verdict
FROM plp p
FULL OUTER JOIN pln n ON n.hypo = p.hypo AND n.hyper = p.hyper
"""


def kg_property_coverage(model: str = "a100") -> str:
    """Coverage twin (pipeline/triples.property_coverage): two cascaded
    distinct aggregates over the production triples, bounded type join,
    exact ppm floor."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
pce AS (SELECT subj_type, subj FROM trip GROUP BY subj_type, subj),
pct AS (
    SELECT subj_type, CAST(count(*) AS BIGINT) AS n_type_entities
    FROM pce GROUP BY subj_type
),
pch AS (
    SELECT subj_type, pred_norm, CAST(count(*) AS BIGINT) AS n_with FROM (
        SELECT subj_type, pred_norm, subj FROM trip
        GROUP BY subj_type, pred_norm, subj
    ) GROUP BY subj_type, pred_norm
)
SELECT h.subj_type, h.pred_norm, h.n_with, t.n_type_entities,
       CAST(h.n_with * 1000000 // t.n_type_entities AS BIGINT)
           AS coverage_ppm
FROM pch h JOIN pct t USING (subj_type)
""",
        "trip",
    )


def rel_salted_join() -> str:
    """Salted-join twin (ops/layout.py salted_join over orders x
    customer): the PLAIN equi-join — salting must be semantically
    invisible, so the oracle deliberately contains no salt at all."""
    return """
SELECT o.o_orderkey,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
       c.c_custkey, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
"""


def kg_ifp_merge(model: str = "a100", num: int = 4, den: int = 5) -> str:
    """IFP-merge twin (pipeline/triples.inverse_functional_merge over
    production triples + the _ifp_splice): the (pred, obj) distinct-
    subject aggregate, the obj-side num/den rule, and the multi-subject
    suggestion rows under IFP predicates."""
    return _materialize(
        f"""
WITH trip AS ({kg_triples(model)}),
ifsp AS (
    SELECT 'p' || CAST(doc_id AS VARCHAR) AS subj,
           'email_of' AS pred_norm,
           CASE WHEN doc_id % 17 = 3
                THEN 'shared' || CAST(doc_id % 4 AS VARCHAR)
                ELSE 'e' || CAST(doc_id AS VARCHAR) END AS obj
    FROM documents
    UNION ALL
    SELECT 'p' || CAST(doc_id AS VARCHAR), 'likes',
           'w' || CAST(doc_id % 5 AS VARCHAR)
    FROM documents
),
ifu AS (
    SELECT subj, pred_norm, obj FROM trip
    UNION ALL SELECT subj, pred_norm, obj FROM ifsp
),
ifo AS (
    SELECT pred_norm, obj,
           CAST(count(DISTINCT subj) AS BIGINT) AS n_subjs,
           string_agg(DISTINCT subj, '|' ORDER BY subj) AS subjs
    FROM ifu GROUP BY pred_norm, obj
),
ifs AS (
    SELECT pred_norm,
           CAST(count(*) AS BIGINT) AS n_objects,
           CAST(CASE WHEN sum(CASE WHEN n_subjs = 1 THEN 1 ELSE 0 END)
                          * {int(den)} >= count(*) * {int(num)}
                     THEN 1 ELSE 0 END AS BIGINT) AS is_ifp
    FROM ifo GROUP BY pred_norm
)
SELECT o.pred_norm, o.obj, o.n_subjs, o.subjs, s.n_objects
FROM ifo o JOIN ifs s ON s.pred_norm = o.pred_norm
WHERE o.n_subjs >= 2 AND s.is_ifp = 1
""",
        "ifo",
    )


def rel_benford() -> str:
    """Benford twin (ops/asof.py benford_audit): the same integer
    magnitude ladder, the shared ppm constants (imported — no log in
    either engine), observed ppm floors, per-digit and per-type L1
    deviations."""
    from unsupervised_ner_spark.ops.asof import BENFORD_PPM

    ladder = "CASE " + " ".join(
        f"WHEN cents >= {10 ** k} THEN CAST({10 ** k} AS BIGINT)"
        for k in range(17, 0, -1)
    ) + " ELSE 1 END"
    bcase = "CASE digit " + " ".join(
        f"WHEN {d} THEN {BENFORD_PPM[d]}" for d in range(1, 10)
    ) + " END"
    return f"""
WITH bfe AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
bfd AS (
    SELECT event_type, CAST(cents // ({ladder}) AS BIGINT) AS digit
    FROM bfe WHERE cents > 0
),
bfc AS (
    SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
    FROM bfd GROUP BY event_type, digit
),
bfs AS (
    SELECT event_type, digit, n,
           CAST((n * 1000000)
                // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
               AS obs_ppm,
           CAST({bcase} AS BIGINT) AS benford_ppm
    FROM bfc
),
bfa AS (
    SELECT event_type, digit, n, obs_ppm, benford_ppm,
           CAST(abs(obs_ppm - benford_ppm) AS BIGINT) AS abs_dev_ppm
    FROM bfs
)
SELECT event_type, digit, n, obs_ppm, benford_ppm, abs_dev_ppm,
       CAST(sum(abs_dev_ppm) OVER (PARTITION BY event_type) AS BIGINT)
           AS l1_dev_ppm
FROM bfa
"""


def ann_mmr_rerank(
    n_queries: int = 5, m: int = 10, k: int = 3, lam_tenths: int = 7
) -> str:
    """MMR twin (ops/simsearch.py mmr_rerank): brute-force top-m per
    query ranked on the FLOORED milli-cosine, the pairwise candidate
    similarity table, and ``k`` unrolled synchronized greedy rounds
    with the identical integer score and tie order."""
    lam = int(lam_tenths)

    def cos(a: str, b: str) -> str:
        return (
            f"round(list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b}))), 9)"
        )

    rounds = []
    prev = "mp1"
    for r in range(2, int(k) + 1):
        rounds.append(
            f"""mx{r} AS (
    SELECT s.query_id, s.a_id AS vec_id,
           CAST(max(s.sim_mil) AS BIGINT) AS maxsim_mil
    FROM msim s JOIN {prev} p
      ON p.query_id = s.query_id AND p.vec_id = s.b_id
    GROUP BY s.query_id, s.a_id
),
ms{r} AS (
    SELECT c.query_id, c.vec_id, c.rel_mil,
           CAST(({lam} * c.rel_mil - {10 - lam} * x.maxsim_mil) // 10
                AS BIGINT) AS score_mil
    FROM mslim c
    JOIN mx{r} x ON x.query_id = c.query_id AND x.vec_id = c.vec_id
    WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                      WHERE p.query_id = c.query_id
                        AND p.vec_id = c.vec_id)
),
mp{r} AS (
    SELECT query_id, vec_id, rel_mil, score_mil,
           CAST({r} AS BIGINT) AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_mil DESC, vec_id) AS rn
        FROM ms{r}
    ) WHERE rn = 1
    UNION ALL SELECT * FROM {prev}
)"""
        )
        prev = f"mp{r}"
    chain = (",\n" + ",\n".join(rounds)) if rounds else ""
    return _materialize(
        f"""
WITH mme AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
mmq AS (
    SELECT vec_id AS query_id, v AS qv FROM mme
    WHERE vec_id < {int(n_queries)}
),
mcand AS (
    SELECT query_id, vec_id, v, rel_mil FROM (
        SELECT q.query_id, e.vec_id, e.v,
               CAST(floor({cos("e.v", "q.qv")} * 1000) AS BIGINT)
                   AS rel_mil,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY CAST(floor({cos("e.v", "q.qv")} * 1000)
                                 AS BIGINT) DESC, e.vec_id
               ) AS rk
        FROM mme e JOIN mmq q ON e.vec_id <> q.query_id
    ) WHERE rk <= {int(m)}
),
mslim AS (SELECT query_id, vec_id, rel_mil FROM mcand),
msim AS (
    SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
           CAST(floor({cos("a.v", "b.v")} * 1000) AS BIGINT) AS sim_mil
    FROM mcand a JOIN mcand b
      ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
mp1 AS (
    SELECT query_id, vec_id, rel_mil,
           CAST(rel_mil AS BIGINT) AS score_mil,
           CAST(1 AS BIGINT) AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel_mil DESC, vec_id) AS rn
        FROM mslim
    ) WHERE rn = 1
){chain}
SELECT query_id, mmr_rank, vec_id, rel_mil, score_mil FROM {prev}
""",
        "mcand", "mslim", "msim",
    )


def dedup_lsh_curve(
    configs: tuple[tuple[int, int], ...] = ((8, 1), (8, 2), (8, 4)),
) -> str:
    """Operating-curve twin (ops/dedup.py lsh_operating_curve over the
    planted-copy corpus): ONE shingle/signature chain over the
    augmented docs, per-config re-banding + capped bucket join +
    scorecard, UNION ALL of the config rows."""
    num_hashes = max(nh for nh, _ in configs)
    mins = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(num_hashes)
    )
    sh = _SHINGLES_CTE.replace("FROM documents", "FROM bqdocs")
    parts = []
    ctes = []
    for ci, (nh, band_size) in enumerate(configs):
        band_rows = []
        for b in range(nh // band_size):
            cols = " || '|' || ".join(
                f"mh_{b * band_size + j}" for j in range(band_size)
            )
            band_rows.append(
                f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash"
                " FROM lcsig"
            )
        ctes.append(
            f"""lcb{ci} AS ({' UNION ALL '.join(band_rows)}),
lcs{ci} AS (
    SELECT band_id, band_hash FROM lcb{ci}
    GROUP BY band_id, band_hash HAVING count(*) <= (SELECT mb FROM lcmb)
),
lco{ci} AS (
    SELECT b.* FROM lcb{ci} b JOIN lcs{ci} s USING (band_id, band_hash)
),
lcc{ci} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lco{ci} a JOIN lco{ci} b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
)"""
        )
        parts.append(
            f"""SELECT CAST({nh // band_size} AS BIGINT) AS n_bands,
       CAST({band_size} AS BIGINT) AS band_size,
       (SELECT CAST(count(*) AS BIGINT) FROM lcc{ci}) AS n_cand,
       (SELECT CAST(count(*) AS BIGINT) FROM bqt) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT)
        FROM lcc{ci} c JOIN bqt t USING (doc_a, doc_b)) AS n_hit,
       CAST((SELECT count(*) FROM lcc{ci} c JOIN bqt t
             USING (doc_a, doc_b)) * 1000000
            // (SELECT count(*) FROM bqt) AS BIGINT) AS pc_ppm,
       CAST(CASE WHEN (SELECT count(*) FROM lcc{ci}) = 0 THEN 0
                 ELSE (SELECT count(*) FROM lcc{ci} c JOIN bqt t
                       USING (doc_a, doc_b)) * 1000000
                      // (SELECT count(*) FROM lcc{ci}) END AS BIGINT)
           AS pq_ppm,
       CAST(1000000 - (SELECT count(*) FROM lcc{ci}) * 1000000
            // ((SELECT n_docs FROM bqn)
                * ((SELECT n_docs FROM bqn) - 1) // 2) AS BIGINT) AS rr_ppm"""
        )
    all_ctes = ",\n".join(ctes)
    body = "\nUNION ALL\n".join(parts)
    mats = ["bqdocs", "lcsig"] + [f"lcc{ci}" for ci in range(len(configs))]
    return _materialize(
        f"""
WITH bqdocs AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(ws[1 : (len(ws) * 4 + 4) // 5], ' ') AS text
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    WHERE doc_id % 9 = 4
),
bqt AS (
    SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
    FROM documents WHERE doc_id % 9 = 4
),
bqn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM bqdocs),
{sh.strip()},
lcmb0 AS (SELECT count(*) AS n,
                 CAST(round(pow(count(*), 1.0/3), 0) AS BIGINT) AS c
          FROM bqdocs),
lcmb AS (SELECT GREATEST(50, LEAST(5000, {_icbrt_ceil_sql()})) AS mb
         FROM lcmb0),
lcsig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
{all_ctes}
{body}
""",
        *mats,
    )


def er_fs_em_round(model: str = "a100", ratio: int = 4) -> str:
    """EM-round twin (pipeline/er.fs_em_round): the pair-features chain,
    the shared binarization, the pattern-region relabel (possible
    abstains), and the re-estimated per-feature statistics."""
    r = int(ratio)
    return _materialize(
        f"""
WITH pf AS ({er_pair_features(model=model)}),
emlab AS (
    SELECT CASE WHEN lev <= 1 THEN 1 ELSE 0 END AS m,
           CASE WHEN tok_overlap >= 1 THEN 1 ELSE 0 END AS f_tok,
           CASE WHEN sh_jaccard_ppm >= 500000 THEN 1 ELSE 0 END AS f_jac,
           CASE WHEN abs(len_a - len_b) <= 1 THEN 1 ELSE 0 END AS f_len,
           CASE WHEN substr(surf_a, 1, 2) = substr(surf_b, 1, 2)
                THEN 1 ELSE 0 END AS f_pre2
    FROM pf
),
emreg AS (
    SELECT pattern,
           CASE WHEN n_match >= {r} * n_nonmatch THEN 1
                WHEN n_nonmatch >= {r} * n_match THEN 0
                ELSE -1 END AS em_label
    FROM (
        SELECT CAST(f_tok AS VARCHAR) || CAST(f_jac AS VARCHAR)
               || CAST(f_len AS VARCHAR) || CAST(f_pre2 AS VARCHAR)
                   AS pattern,
               CAST(sum(m) AS BIGINT) AS n_match,
               CAST(sum(1 - m) AS BIGINT) AS n_nonmatch
        FROM emlab GROUP BY 1
    )
),
emrel AS (
    SELECT g.em_label AS m, l.f_tok, l.f_jac, l.f_len, l.f_pre2
    FROM emlab l
    JOIN emreg g
      ON g.pattern = CAST(l.f_tok AS VARCHAR) || CAST(l.f_jac AS VARCHAR)
                     || CAST(l.f_len AS VARCHAR) || CAST(l.f_pre2 AS VARCHAR)
    WHERE g.em_label >= 0
),
emst AS (
    SELECT m, 'tok_overlap' AS feature, f_tok AS agree FROM emrel
    UNION ALL SELECT m, 'shingle_jaccard', f_jac FROM emrel
    UNION ALL SELECT m, 'len_diff_le1', f_len FROM emrel
    UNION ALL SELECT m, 'prefix2_eq', f_pre2 FROM emrel
)
SELECT feature,
       CAST(sum(m) AS BIGINT) AS n_match,
       CAST(sum(m * agree) AS BIGINT) AS n_match_agree,
       CAST(sum(1 - m) AS BIGINT) AS n_nonmatch,
       CAST(sum((1 - m) * agree) AS BIGINT) AS n_nonmatch_agree,
       CAST(count(*) AS BIGINT) AS n_labeled
FROM emst GROUP BY feature
""",
        "emlab",
    )


def txt_instruction_density() -> str:
    """Instruction-density twin (ops/textstats.instruction_density over
    the CTA splice): the same line split / trim / len>1 filter,
    imperative first-token test against the shared verb list, second-
    person token count, ppm and conjunction flag."""
    from unsupervised_ner_spark.ops.textstats import (
        IMPERATIVE_VERBS, SECOND_PERSON,
    )

    verbs = "[" + ", ".join(f"'{v}'" for v in IMPERATIVE_VERBS) + "]"
    second = "[" + ", ".join(f"'{w}'" for w in SECOND_PERSON) + "]"
    cta = (
        "\nClick here to subscribe now"
        "\nPlease enter your email to continue"
    ).replace("\n", "' || chr(10) || '")
    weak = (
        "\nFollow the main road north"
        "\nthe road data follows here"
        "\nthe second figure follows below"
        "\nthe appendix follows at the end"
        "\nthe index follows last"
    ).replace("\n", "' || chr(10) || '")
    return f"""
WITH idd AS (
    SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN text || '{cta}'
                WHEN doc_id % 22 = 13 THEN text || '{weak}'
                ELSE text END AS text
    FROM documents
),
idl AS (
    SELECT doc_id,
           list_filter(list_transform(string_split(text, chr(10)),
                                      s -> trim(s)),
                       s -> length(s) > 1) AS lines,
           list_transform({_TOKS}, t -> lower(t)) AS low
    FROM idd
),
ids AS (
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_sents,
           CAST(len(list_filter(lines,
                s -> list_contains({verbs},
                     lower(regexp_split_to_array(s, '\\s+')[1]))))
                AS BIGINT) AS n_imperative,
           CAST(len(list_filter(low, t -> list_contains({second}, t)))
                AS BIGINT) AS n_second_person
    FROM idl
)
SELECT doc_id, n_sents, n_imperative, n_second_person,
       CAST(CASE WHEN n_sents = 0 THEN 0
                 ELSE n_imperative * 1000000 // n_sents END AS BIGINT)
           AS imperative_ppm,
       CAST(CASE WHEN n_imperative * 5 >= n_sents
                  AND n_second_person >= 1
                 THEN 1 ELSE 0 END AS BIGINT) AS is_instruction_like
FROM ids
"""


def kg_entity_sentiment(names: list[str]) -> str:
    """Entity-sentiment twin (pipeline/taxonomy.entity_sentiment over
    the opinion splice): the shared sentence CTE over the spliced docs,
    the shared lexicons (imported), distinct capitalized surfaces per
    sentence, one vocabulary aggregate, the verdict CASE."""
    from unsupervised_ner_spark.pipeline.taxonomy import (
        ENTITY_TOKEN_PAT, NEG_WORDS, POS_WORDS,
    )

    name_arr = "[" + ", ".join(f"'{n}'" for n in names) + "]"
    pos_arr = "[" + ", ".join(f"'{w}'" for w in POS_WORDS) + "]"
    neg_arr = "[" + ", ".join(f"'{w}'" for w in NEG_WORDS) + "]"
    sents = SENTS_CTE.replace("FROM documents", "FROM esd")
    assert "esd" in sents
    return f"""
WITH esd AS (
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN t1 || chr(10) || 'Neutralia stands here'
                ELSE t1 END AS text
    FROM (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN text || chr(10)
                         || ({name_arr})[CAST((doc_id // 7) % 5 AS INT) + 1]
                         || ' is '
                         || CASE WHEN (doc_id // 7) % 5 <= 1
                                 THEN ({pos_arr})[CAST(doc_id % 5 AS INT) + 1]
                                 WHEN (doc_id // 7) % 5 <= 3
                                 THEN ({neg_arr})[CAST(doc_id % 5 AS INT) + 1]
                                 WHEN (doc_id // 35) % 2 = 0
                                 THEN ({pos_arr})[CAST(doc_id % 5 AS INT) + 1]
                                 ELSE ({neg_arr})[CAST(doc_id % 5 AS INT) + 1]
                            END
                    ELSE text END AS t1
        FROM documents
    )
),
{sents.strip()},
ess AS (
    SELECT CAST(len(list_filter(
               list_transform(regexp_split_to_array(sent, '\\s+'),
                              t -> lower(t)),
               t -> list_contains({pos_arr}, t))) AS BIGINT) AS n_pos,
           CAST(len(list_filter(
               list_transform(regexp_split_to_array(sent, '\\s+'),
                              t -> lower(t)),
               t -> list_contains({neg_arr}, t))) AS BIGINT) AS n_neg,
           unnest(list_distinct(
               regexp_extract_all(sent, '{ENTITY_TOKEN_PAT}', 0)))
               AS surface
    FROM sents
),
esa AS (
    SELECT surface, CAST(count(*) AS BIGINT) AS n_mentions,
           CAST(sum(n_pos) AS BIGINT) AS n_pos_hits,
           CAST(sum(n_neg) AS BIGINT) AS n_neg_hits
    FROM ess GROUP BY surface
)
SELECT surface, n_mentions, n_pos_hits, n_neg_hits,
       CASE WHEN n_pos_hits > 0 AND n_neg_hits > 0 THEN 'mixed'
            WHEN n_pos_hits > 0 THEN 'positive'
            WHEN n_neg_hits > 0 THEN 'negative'
            ELSE 'neutral' END AS verdict
FROM esa
"""
