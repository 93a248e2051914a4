"""Smoke test for tools/soak.py: scenarios run on a caller's session at
n=200 and print the row counts the registry and the plants imply."""

from __future__ import annotations

import re

import pytest

from tools import soak
from verified_sources_spark.plans.queries import QUERIES

N = 200


def _printed_rows(out: str) -> list[int]:
    return [int(r) for r in re.findall(r": [\d.]+s, (\d+) rows, ", out)]


def test_listing_names_every_scenario(capsys):
    soak.main([])
    out = capsys.readouterr().out
    assert [line.split()[0] for line in out.splitlines()] == list(soak.SCENARIOS)


@pytest.mark.parametrize("scenario, shape", [
    ("crawl_corpus_uniform", "uniform"),
    ("crawl_shared_page_skew", "shared_page_skew"),
])
def test_entry_scenario_prints_the_registry_count(spark, tmp_path, capsys,
                                                  scenario, shape):
    soak.run(spark, scenario, N, str(tmp_path))
    printed = _printed_rows(capsys.readouterr().out)
    sf_dir = soak.spine_dir(str(tmp_path), shape, N)
    assert printed == [QUERIES["crawl_corpus_docs"](spark, sf_dir).count()]


def test_custom_mint_prints_the_planted_count(spark, tmp_path, capsys):
    # one hot page in 5/6 of the crawl: one group for it, one per unique
    soak.run(spark, "crawl_hot_page", N, str(tmp_path))
    assert _printed_rows(capsys.readouterr().out) == [N // 6 + 1]


def test_chain_star_components_print_the_planted_count(spark, tmp_path, capsys):
    # ten 20-node components, half chains and half stars hubbed on their
    # largest id; the scenario also checks both labelling branches agree
    soak.run(spark, "components_chain_star", N, str(tmp_path))
    assert _printed_rows(capsys.readouterr().out) == [N // 20]
