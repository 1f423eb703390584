"""Unit tests for the typing math kernel vs hand-computed reference semantics
(batched_main_NER.py:27-30,579-590,602-702,165-233,457-467)."""

import numpy as np
import pytest

from unsupervised_ner_spark.kernel import typing as T

EMAP = {
    "DISEASE": "DISEASE",
    "DRUG": "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE",
    "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE": "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE",
    "PERSON": "PERSON",
    "OTHER": "OTHER",
    "UNTAGGED_ENTITY": "UNTAGGED_ENTITY",
    "NUMBER": "MEASURE",
    "MEASURE": "MEASURE",
}


def test_softmax_matches_reference_formula():
    # max-subtracted softmax, axis=0 (batched_main_NER.py:27-30)
    x = np.array([10.0, 4.0, 7.0])
    e = np.exp(x - 10.0)
    np.testing.assert_allclose(T.softmax(x), e / e.sum())


def test_normalize_round_4dp_and_zero_sum():
    # convert_positive_nums_to_dist (:579-590)
    assert T.normalize_round([1.0, 1.0, 2.0]) == [0.25, 0.25, 0.5]
    # zero-sum boundary: first factor forced to 1 (:583-585)
    assert T.normalize_round([0.0, 0.0]) == [1.0, 0.0]
    # numpy banker's rounding at 4dp (np.round, not SQL half-up)
    out = T.normalize_round([1.0, 3.0])
    assert out == [0.25, 0.75]


def test_aggregate_single_descriptor():
    descs = [("remedy", 2.0)]
    sigs = [(["DRUG", "DISEASE"], [10, 4])]
    ents, confs, subtypes = T.aggregate_entities(descs, sigs, EMAP)
    # softmax([10,4]) ~ [0.9975, 0.0025]; weighted by 2.0
    soft = T.softmax(np.array([10.0, 4.0]))
    exp_drug = float(soft[0]) * 2.0
    exp_dis = float(soft[1]) * 2.0
    tot = exp_drug + exp_dis
    assert ents[0].startswith("THERAPEUTIC_OR_PREVENTIVE_PROCEDURE[DRUG]")
    assert confs[0] == float(np.round(exp_drug / tot, 4))
    assert subtypes == {
        "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE": {"DRUG": 10},
        "DISEASE": {"DISEASE": 4},
    }


def test_aggregate_suppression_and_other_fallback():
    # all labels suppressed -> {OTHER: 1} (:637-639)
    descs = [("the", 5.0)]
    sigs = [(["UNTAGGED_ENTITY"], [7])]
    ents, confs, subtypes = T.aggregate_entities(descs, sigs, EMAP)
    assert ents == ["OTHER[OTHER]"]
    assert confs == [1.0]
    # suppression off keeps UNTAGGED (skip_untagged, :680-683)
    ents2, _, _ = T.aggregate_entities(descs, sigs, EMAP, suppress_untagged=False)
    assert ents2[0].startswith("UNTAGGED_ENTITY")


def test_subtype_accumulation_across_descriptors():
    # raw counts accumulate across descs (:694-701)
    descs = [("d1", 1.0), ("d2", 1.0)]
    sigs = [(["DRUG"], [10]), (["DRUG", "DISEASE"], [3, 5])]
    _, _, subtypes = T.aggregate_entities(descs, sigs, EMAP)
    assert subtypes["THERAPEUTIC_OR_PREVENTIVE_PROCEDURE"]["DRUG"] == 13
    assert subtypes["DISEASE"]["DISEASE"] == 5


def test_numeric_dummy_descs_zero_sum():
    # 10 x ("two", 0) -> all contributions 0 -> zero-sum -> first factor 1
    descs = [("two", 0.0)] * 10
    sigs = [(["NUMBER"], [10])] * 10
    ents, confs, _ = T.aggregate_entities(descs, sigs, EMAP)
    assert ents == ["MEASURE[NUMBER]"]
    assert confs == [1.0]


def test_pool_confidences_ci_cs_sum():
    pooled = T.pool_confidences(
        ci_entities=["DISEASE[DISEASE]"], ci_confidences=[1.0],
        ci_subtypes={"DISEASE": {"DISEASE": 4}},
        cs_entities=["DISEASE[DISEASE]", "PERSON"], cs_confidences=[0.7, 0.3],
        cs_subtypes={"DISEASE": {"DISEASE": 9}, "PERSON": {"PERSON": 2}},
        blank_probe=False,
    )
    # DISEASE: 1.0 + 0.7 = 1.7; PERSON: 0.3 -> dist [0.85, 0.15]
    assert [(e, c) for e, c, _ in pooled] == [("DISEASE", 0.85), ("PERSON", 0.15)]
    # subtype factors: CS then CI summed (9 + 4)
    assert pooled[0][2] == [("DISEASE", 1.0)]


def test_pool_blank_probe_skips_ci():
    # blank-probe sentences skip CI entirely (:158-173)
    pooled = T.pool_confidences(
        ci_entities=["PERSON"], ci_confidences=[1.0], ci_subtypes={"PERSON": {"PERSON": 5}},
        cs_entities=["DISEASE"], cs_confidences=[1.0], cs_subtypes={"DISEASE": {"DISEASE": 2}},
        blank_probe=True,
    )
    assert [(e, c) for e, c, _ in pooled] == [("DISEASE", 1.0)]


def test_top_prediction_formats():
    # fill_detected_entities (:457-467)
    assert T.top_prediction([("DISEASE", 0.9, [("MENTAL", 1.0)])]) == "DISEASE[MENTAL]"
    assert T.top_prediction([("OTHER", 1.0, [("OTHER", 1.0)])]) == "OTHER"
    assert T.top_prediction([]) == "OTHER"


def test_sort_tie_break_is_label_asc():
    # equal scores break ties by label ASC — the deterministic cross-engine
    # rule shared with oracle_sql (deliberate divergence from the
    # reference's insertion-order stable sort, batched_main_NER.py:636;
    # see kernel/typing.py module docstring)
    descs = [("x", 1.0)]
    sigs = [(["PERSON", "DISEASE"], [5, 5])]  # equal counts -> equal softmax
    ents, confs, _ = T.aggregate_entities(descs, sigs, EMAP)
    assert ents[0].startswith("DISEASE")  # D < P on the tie
    assert confs == [0.5, 0.5]


# ---------------------------------------------------------------------------
# v1 (per-mention, main_NER.py) aggregation semantics
# ---------------------------------------------------------------------------


def test_v1_count_fraction_weighting():
    # one descriptor, score 2.0, labels DISEASE/PERSON counts 10/30:
    # weights = (10/40)*2, (30/40)*2 (main_NER.py:541-572)
    descs = [("x", 2.0)]
    sigs = [(["DISEASE", "PERSON"], [10, 30])]
    ents, confs, subs = T.aggregate_entities_v1(descs, sigs, EMAP)
    # PERSON 1.5 > DISEASE 0.5 -> normalized [0.75, 0.25]
    assert ents == ["PERSON[PERSON]", "DISEASE[DISEASE]"]
    assert confs == [0.75, 0.25]
    # subtype counting is OCCURRENCES (1 per descriptor), not cluster counts
    assert subs == {"DISEASE": {"DISEASE": 1}, "PERSON": {"PERSON": 1}}


def test_v1_denominator_includes_suppressed_counts():
    # total = 5 + 15 = 20 even though OTHER is suppressed (:558 sums before
    # filtering); DISEASE gets the ALIGNMENT QUIRK weight curr_counts[0]=5
    # (filtered index) -> (5/20)*1.0
    descs = [("x", 1.0)]
    sigs = [(["OTHER", "DISEASE"], [5, 15])]
    ents, confs, subs = T.aggregate_entities_v1(descs, sigs, EMAP)
    assert ents == ["DISEASE[DISEASE]"]
    assert confs == [1.0]  # single entity normalizes to 1 regardless
    # the quirk is observable with TWO kept labels after one suppressed:
    sigs2 = [(["OTHER", "DISEASE", "PERSON"], [8, 2, 10])]
    ents2, confs2, _ = T.aggregate_entities_v1(descs, sigs2, EMAP)
    # kept = [DISEASE, PERSON]; quirk weights use counts[0]=8, counts[1]=2
    # -> DISEASE (8/20), PERSON (2/20) -> DISEASE ranks first
    assert ents2[0].startswith("DISEASE")
    assert confs2 == [0.8, 0.2]


def test_v1_subtype_occurrence_counting_across_descriptors():
    descs = [("a", 1.0), ("b", 1.0)]
    sigs = [
        (["DRUG"], [100]),
        (["DRUG", "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE"], [1, 1]),
    ]
    _, _, subs = T.aggregate_entities_v1(descs, sigs, EMAP)
    grp = "THERAPEUTIC_OR_PREVENTIVE_PROCEDURE"
    assert subs[grp]["DRUG"] == 2  # once per descriptor, NOT 101
    assert subs[grp][grp] == 1


def test_v1_all_suppressed_falls_back_to_other():
    descs = [("x", 1.0)]
    sigs = [(["OTHER", "UNTAGGED_ENTITY"], [3, 4])]
    ents, confs, subs = T.aggregate_entities_v1(descs, sigs, EMAP)
    assert ents == ["OTHER[OTHER]"]
    assert confs == [1.0]
    assert subs == {"OTHER": {"OTHER": 1}}
