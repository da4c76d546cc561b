"""Extraction-stage tests: byte-identical text per url (BASELINE.json
per-row invariant), Arrow-batch-size invariance, triple extraction
kernel."""

from __future__ import annotations

import os

import pytest

from kgeng import fixtures
from kgeng.extract.text import extract_text_py, extracted_text
from kgeng.extract.triples import extract_triples, extract_triples_py
from tests.conftest import FIX_DIR


@pytest.fixture(scope="module")
def pages_path():
    p = os.path.join(FIX_DIR, "pages_1k.parquet")
    fixtures.write_pages(p, 1000)
    return p


def test_kernel_byte_identity_closed_form():
    for i in [0, 1, 7, 99, 500]:
        assert extract_text_py(fixtures.page_html(i)) == fixtures.page_text(i)


def test_kernel_handles_junk():
    assert extract_text_py(None) is None
    assert extract_text_py(b"") == ""
    assert extract_text_py(b"<p>a &amp; b</p><script><p>x</p></script>") == "a & b"
    assert extract_text_py(b"\xff\xfe<p>ok</p>") == "ok"  # bad bytes -> replaced


def test_spark_extraction_byte_identity(spark, pages_path):
    import pyspark.sql.functions as F

    pages = spark.read.parquet(pages_path)
    out = pages.select(
        "url", "text", extracted_text(F.col("html")).alias("extracted")
    )
    mismatches = out.filter(
        ~F.col("extracted").eqNullSafe(F.col("text"))
    ).count()
    assert mismatches == 0


def test_batch_size_invariance(spark, pages_path):
    """The extraction must not depend on how rows land in Arrow
    batches (SURVEY.md §7.4 risk 1)."""
    import pyspark.sql.functions as F

    pages = spark.read.parquet(pages_path)
    small = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        out = pages.repartition(13).select(
            "url", "text", extracted_text(F.col("html")).alias("extracted")
        )
        assert out.filter(~F.col("extracted").eqNullSafe(F.col("text"))).count() == 0
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", small)


def test_triple_kernel_closed_form():
    for i in [1, 2, 3, 50, 777]:
        got = extract_triples_py(fixtures.page_text(i))
        specs = fixtures.page_sentence_specs(i)
        assert len(got) == len(specs)
        for (idx, s_surf, pred, o_surf), (s, _v, exp_pred, o) in zip(got, specs):
            assert pred == exp_pred
            assert s_surf.lower() == fixtures.entity_name(s).lower()
            assert o_surf == fixtures.entity_name(o)


def test_triple_kernel_non_matching():
    assert extract_triples_py("No pattern here at all") == []
    assert extract_triples_py("") == []
    assert extract_triples_py(None) == []


def test_spark_triples_count(spark, pages_path):
    pages = spark.read.parquet(pages_path).filter("lang = 'en'")
    n = extract_triples(pages).count()
    expected = sum(
        len(fixtures.page_sentence_specs(i))
        for i in range(1000)
        if fixtures.page_lang(i) == "en"
    )
    assert n == expected


def test_scanner_matches_reference_parser():
    """The fast scanner kernel and the html.parser reference must
    agree byte-for-byte over the fixture corpus and assorted junk."""
    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    for i in range(0, 400, 7):
        h = fixtures.page_html(i, mult=3, filler_kb=2)
        assert extract_text_py(h) == extract_text_py_reference(h), i
    junk = [
        b"",
        b"<p>a &amp; b</p><script><p>x</p></script>",
        b"\xff\xfe<p>ok</p>",
        b"<p>unclosed paragraph",
        b"<p>a < b</p>",
        b"<nav><p>skip</p></nav><p>keep</p>",
        b"<p>one<p>nested</p>two</p>",
        b"<!-- <p>no</p> --><p>yes</p>",
        b"<P>Upper</P>",
        b"<p >spaced attr</p ><p class='x'>attr</p>",
        b"<style>p { color: red }</style><p>body</p>",
        b"<p>text &lt;tag&gt; more</p>",
        b"<br/><p>after void</p><hr>",
        b"<template><p>no</p></template><p>yes2</p>",
        # '>' inside a quoted attribute value must not end the tag
        b'<p title="a>b">gtattr</p>',
        b"<p><a href='x>y'>link</a> tail</p>",
        b'<p><img alt="1>2"/>imgtail</p>',
        # ...quotes OUTSIDE name="value" position follow html.parser's
        # tolerant grammar (attr-junk tags may degrade to data; the
        # scanner ports that control flow exactly)
        b'<p =">">eqquote</p>',
        b'<p "bare>quoted">bare</p>',
        b"<p data-x='ok' \">trail</p>",
        # entities split across tag boundaries stay literal (html.parser
        # unescapes per data run, never across tags)
        b"<p>&am<b>p;</b></p>",
        b"<p>&amp<i>;x</i></p>",
        b"<p>a &amp; b &lt<b>;</b></p>",
    ]
    for h in junk:
        assert extract_text_py(h) == extract_text_py_reference(h), h


def test_scanner_fuzz_differential():
    """Property fuzz: the fast scanner and the html.parser reference
    must agree on arbitrary tag-soup built from the characters that
    drive every branch (tags, quotes, '=', entities, comments, marked
    sections, slashes), in text position AND attribute position. The
    scanner's start/end-tag path is a faithful port of html.parser's
    tolerant grammar (r6), so attribute-position quotes and '=' runs
    are fair game — a 5M-case hammer of these templates passed during
    development with no excluded classes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    soup = st.text(
        alphabet=list("<>/=\"'& ;ap!-\nxb0?tT[]cdi"), min_size=0, max_size=80
    )
    attr_soup = st.text(
        alphabet=list("<>/=\"'& ;ap!-\nxb0?tT"), min_size=0, max_size=80
    )

    @settings(max_examples=300, deadline=None)
    @given(soup, attr_soup)
    def check(s, a):
        for h in (
            f"<p>{s}</p><p>tail".encode(),
            s.encode(),
            f"<p a{a}>x</p>".encode(),
            f"<p x='q'{a}>x</p>".encode(),
            f"<p a='{a}'>x</p>".encode(),
            f"<p>w<script{a}>{s}</script>z</p>".encode(),
            f"<p>w<![{a}]]>z</p>".encode(),
        ):
            assert extract_text_py(h) == extract_text_py_reference(h), (s, a, h)

    check()


def test_gzip_payload_transparent_decompress():
    """WARC-shaped gzip html payloads must extract byte-identically to
    their plain twins (both kernels)."""
    import gzip

    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    for i in [0, 3, 42]:
        plain = fixtures.page_html(i, mult=2, filler_kb=1)
        gz = gzip.compress(plain, compresslevel=6, mtime=0)
        assert extract_text_py(gz) == fixtures.page_text(i, mult=2)
        assert extract_text_py_reference(gz) == fixtures.page_text(i, mult=2)
    # non-gzip bytes that happen to start ambiguously stay raw
    assert extract_text_py(b"\x1f\x8bnot really gzip <p>x</p>") is not None


def test_scanner_grammar_is_in_lockstep_with_stdlib():
    """The fast scanner's tag grammar is a port of html.parser's
    tolerant regexes (the reference kernel IS html.parser, so the two
    must move together). Assert byte-identical patterns so a CPython
    upgrade that changes the tolerant grammar fails THIS test loudly
    instead of surfacing as a probabilistic differential-fuzz flake."""
    import html.parser as hp
    import inspect

    import _markupbase

    from kgeng.extract import text as tx

    assert tx._TAGFIND.pattern == hp.tagfind_tolerant.pattern
    assert tx._ATTRFIND.pattern == hp.attrfind_tolerant.pattern
    assert tx._END_TAG.pattern == hp.endtagfind.pattern
    assert tx._COMMENT_CLOSE.pattern == hp.commentclose.pattern
    assert tx._MARKED_CLOSE.pattern == _markupbase._markedsectionclose.pattern
    assert tx._MS_MARKED_CLOSE.pattern == _markupbase._msmarkedsectionclose.pattern
    # verbose pattern: compare modulo the whitespace/comments VERBOSE
    # itself ignores — which excludes character classes, where
    # whitespace IS significant (naive \s+ stripping would erase the
    # literal space in [^\t\n\r\f />\x00] from both sides and mask a
    # real grammar divergence on whether space ends a tag name)
    def strip_verbose(p: str) -> str:
        out, in_class, i = [], False, 0
        while i < len(p):
            c = p[i]
            if c == "\\":
                out.append(p[i : i + 2])
                i += 2
                continue
            if in_class:
                out.append(c)
                in_class = c != "]"
            elif c == "[":
                out.append(c)
                in_class = True
            elif c == "#":
                while i < len(p) and p[i] != "\n":
                    i += 1
            elif not c.isspace():
                out.append(c)
            i += 1
        return "".join(out)

    assert strip_verbose(tx._LOCATE_START.pattern) == strip_verbose(
        hp.locatestarttagend_tolerant.pattern
    )
    # _declname_match is a bound .match with no public pattern attr on
    # some versions — assert the literal appears in the stdlib source
    assert tx._DECLNAME.pattern in inspect.getsource(_markupbase)


def test_self_closing_p_inside_skip_subtree():
    """handle_startendtag = starttag + endtag: the extractor's endtag
    flushes an open paragraph REGARDLESS of skip depth, so `<p/>`
    inside <nav> closes an outer paragraph exactly like a bare `</p>`
    there would (r6 review catch — the scanner's old guard made it a
    no-op and desynced every later paragraph boundary)."""
    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    cases = [
        b"<p>x<nav><p/></nav>y</p>",
        b"<p>x<nav><p/><p/></nav>y</p>",
        b"<p>a<p>b<nav><p/></nav>c</p>d</p>",
        b"<nav><p/></nav><p>z</p>",
        b"<p>x<aside><p />more</aside>y</p>",
        b"<p>x<script><p/></script>y</p>",  # cdata swallows, no event
        b"<nav/><p>k</p>",
    ]
    for h in cases:
        assert extract_text_py(h) == extract_text_py_reference(h), h


def test_scanner_fuzz_structured_tags():
    """Differential fuzz over REAL tag tokens (the character-soup fuzz
    cannot spell 'nav' or 'script', so whole classes — skip-subtree
    nesting, cdata boundaries, marked sections — were unreachable; the
    r6 <p/>-in-skip divergence hid exactly there). 120k-doc sweep of
    this pool passed during development."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    tokens = st.sampled_from([
        "<p>", "</p>", "<p/>", "<p />", "<nav>", "</nav>", "<nav/>",
        "<aside>", "</aside>", "<b>", "</b>", "<br/>", "<script>",
        "</script>", "<style>", "</style>", "<template>", "</template>",
        "<header>", "</header>", "<p a='x'>", '<p a="y"/>', "<!--",
        "-->", "<![cdata[", "]]>", "<!x>", "x", "y z", "&amp;", "&lt",
        "<", ">", "'", '"', " ", "\n", "/", "=",
    ])

    @settings(max_examples=400, deadline=None)
    @given(st.lists(tokens, min_size=1, max_size=18))
    def check(parts):
        h = "".join(parts).encode()
        assert extract_text_py(h) == extract_text_py_reference(h), h

    check()


def test_scanner_fuzz_boring_run_boundaries():
    """Differential fuzz targeting the boring-run fast path (r7): runs
    of state-neutral markup (boring start/end tags, text, stray '<')
    interleaved with the constructs the run must STOP at — interesting
    names in every case/boundary variant (`<pre>` is boring, `<P/>` is
    not; `</ p>` is an end tag only via the slow path), quoted
    attribute values hiding '<p>' or '>', tolerant-junk end tags, and
    incomplete tags. The boring-run consumption extents must equal the
    per-tag slow path's exactly or paragraph boundaries desync."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from kgeng.extract.text import extract_text_py, extract_text_py_reference

    tokens = st.sampled_from([
        "<p>", "</p>", "<P>", "</P>", "<p/>", "</ p>", "</p >",
        "<pre>", "</pre>", "<param>", "<pa>", "</pa>",
        "<nav>", "</nav>", "<NAV a=b>", "<navx>", "</navx>",
        "<a href='/x' class='s'>t</a> ", "<div>", "</div>", "<br/>",
        '<a title="<p>">', "<a b=\"x>y\">", "<a b='<nav>'>",
        "<a b=c>", "<a b= >", "<a\tb>", "<a b=/>", "<a-b>", "<p:q>",
        "</a junk>", '<a "j">', "<a b='unterminated",
        "<script>", "</script>", "<style>", "</style>",
        "<!-- c -->", "<!--", "-->", "<!d>", "<?pi?>", "<![if x]>",
        "text ", "x<y", "<", ">", "&amp;", "&", "\n", "\x00",
    ])

    @settings(max_examples=400, deadline=None)
    @given(st.lists(tokens, min_size=1, max_size=20))
    def check(parts):
        h = "".join(parts).encode()
        assert extract_text_py(h) == extract_text_py_reference(h), h

    check()


def test_extract_stage_output_is_fanout_invariant(spark, pages_path, tmp_path, monkeypatch):
    """The extract stage's fan-out is a speed choice only: the stage
    output's (url, text) hash sum is the same at two partition counts."""
    import pyspark.sql.functions as F

    from kgeng import pipeline

    def stage_hash(waves: int):
        monkeypatch.setattr(pipeline, "EXTRACT_WAVES", waves)
        out = pipeline.Pipeline(spark, pages_path, "", str(tmp_path / f"w{waves}"))
        df = spark.read.parquet(out.stage_extract_text())
        h = F.xxhash64("url", "text").cast("decimal(38,0)")
        return df.select(F.sum(h), F.count("*")).first()

    one, twelve = stage_hash(1), stage_hash(12)
    assert one == twelve and one[1] == 1000
