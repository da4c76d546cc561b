"""Mention detection: longest-match alias-trie scan over page text."""

from __future__ import annotations

import pytest

from kgeng import fixtures
from kgeng.extract.mentions import build_alias_trie, detect_mentions, _scan_text
from tests.conftest import FIX_DIR


def test_scan_longest_match_first():
    lookup, mx = build_alias_trie(
        ["alpha", "alpha factor", "alpha factor 7", "beta"]
    )
    assert mx == 3
    out = _scan_text("Alpha factor 7 binds beta today.", lookup, mx)
    assert [(s.lower(), n) for s, _a, n in out] == [("alpha factor 7", 3), ("beta", 1)]


def test_scan_handles_punctuation_and_case():
    lookup, mx = build_alias_trie(["gammazyme 9"])
    out = _scan_text("We saw Gammazyme 9.", lookup, mx)
    assert len(out) == 1 and out[0][2] == 2


def test_join_path_matches_trie_path(spark):
    """The auto-switch contract: the join-based exact-match path
    (forced via a tiny collect threshold) must produce the exact same
    mention multiset as the broadcast-trie path."""
    pages_path = f"{FIX_DIR}/mention_pages.parquet"
    dict_path = f"{FIX_DIR}/mention_dict.parquet"
    fixtures.write_pages(pages_path, 60)
    fixtures.write_dictionary(dict_path)
    pages = spark.read.parquet(pages_path).filter("lang = 'en'")
    dictionary = spark.read.parquet(dict_path)
    trie = detect_mentions(spark, pages, dictionary)
    joined = detect_mentions(spark, pages, dictionary, max_collected_aliases=1)
    rows_t = sorted(map(tuple, trie.collect()))
    rows_j = sorted(map(tuple, joined.collect()))
    assert rows_t and rows_t == rows_j


def test_detect_mentions_closed_form(spark):
    pages_path = f"{FIX_DIR}/mention_pages.parquet"
    dict_path = f"{FIX_DIR}/mention_dict.parquet"
    fixtures.write_pages(pages_path, 200)
    fixtures.write_dictionary(dict_path)
    pages = spark.read.parquet(pages_path).filter("lang = 'en'")
    dictionary = spark.read.parquet(dict_path)
    got = detect_mentions(spark, pages, dictionary)
    # every sentence has exactly 2 entity mentions (subject + object)
    expected = 2 * sum(
        len(fixtures.page_sentence_specs(i))
        for i in range(200)
        if fixtures.page_lang(i) == "en"
    )
    assert got.count() == expected
    # and each mention's normalized surface is a known alias
    aliases = {
        a.lower()
        for r in dictionary.select("aliases").collect()
        for a in r["aliases"]
    }
    sample = got.limit(50).collect()
    assert all(r["alias_norm"] in aliases for r in sample)
