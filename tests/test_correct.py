"""The entity-repair funnel: what each re-scorer checkpoints, and edge
inputs (sf0.001)."""

from __future__ import annotations

import pytest

from kgspark import correct, patybred, pipeline
from tests.conftest import SF_TINY

DIST = ("p", "t", "dist")
REPAIRED = ["s", "p", "o", "score", "o_new", "new_score", "dist"]
COLUMNS = {"correct_errors": REPAIRED, "correct_errors_patybred": REPAIRED,
           "type_corrections": ["s", "p", "o", "score", "t_new", "new_score"]}


@pytest.fixture(scope="module")
def graph(spark):
    return pipeline.build_graph(spark, SF_TINY)


@pytest.fixture(scope="module")
def bundle(spark):
    return patybred.pb_bundle(spark, SF_TINY, 0.05, clf="lgr", kind=3)


def _run(fn: str, ranked, graph, b):
    if fn == "correct_errors":
        return correct.correct_errors(ranked, b.facts, graph.types,
                                      graph.entities,
                                      n_entities=graph.n_entities)
    if fn == "correct_errors_patybred":
        return correct.correct_errors_patybred(
            ranked, b.facts, graph.types, graph.entities, b.idx, b.models,
            n_entities=graph.n_entities)
    return correct.type_corrections(ranked, b.facts, graph.types)


def test_only_the_sdvalidate_rescorer_checkpoints_the_type_distribution(
        graph, bundle, checkpointed):
    """The (p, t, dist) table is the SDValidate re-score's input: the
    PaTyBRED repair never builds it, the SDValidate repair checkpoints it
    once."""
    checkpointed.clear()
    _run("correct_errors_patybred", bundle.ranked, graph, bundle)
    assert checkpointed and DIST not in checkpointed
    checkpointed.clear()
    _run("correct_errors", bundle.ranked, graph, bundle)
    assert checkpointed.count(DIST) == 1


@pytest.mark.parametrize("fn", sorted(COLUMNS))
def test_empty_ranked_gives_no_corrections(graph, bundle, fn):
    out = _run(fn, bundle.ranked.limit(0), graph, bundle)
    assert out.columns == COLUMNS[fn]
    assert out.count() == 0
