"""Deterministic synthetic fixture generator (FIXTURES.md §1, §3, §4).

Everything is derived from the row index — no RNG state — so
re-generation is byte-stable at any scale and the expected outputs
(extracted text, (subj, pred, obj) triples, canonical entity
components) are computable in closed form. This replaces the
reference's "node range 11-12, edge range 1-2 is a good set of data to
test with" slice (``Kuzu/kuzu_build_graph_csv.py:38``) with a corpus
whose goldens are exact.

Shapes (BASELINE.json input_hint):
  pages(url string, warc_ts timestamp, html binary, text string, lang string)
  dictionary(curie string, label string, aliases array<string>)
"""

from __future__ import annotations

import datetime
import html as html_mod
import os

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Entity pool
# ---------------------------------------------------------------------------

_PREFIXES = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "kappa",
    "lambda", "sigma", "omega", "nova", "ultra", "mono", "poly", "iso",
    "neo", "pro", "meta", "para",
]
_STEMS = [
    "zyme", "mycin", "statin", "gene", "factor", "cytokine", "kinase",
    "receptor", "channel", "toxin", "phage", "lipid", "peptide", "sterol",
    "amine",
]

# verb phrase in text -> biolink predicate (owned by the extractor)
from kgeng.extract.lexicon import PREDICATE_LEXICON as PREDICATES  # noqa: E402

# deterministic per-entity category pool (unordered on purpose — the O1
# reorder kernel runs during materialization)
_CATEGORY_POOL: list[list[str]] = [
    ["biolink:NamedThing", "biolink:SmallMolecule", "biolink:ChemicalEntity"],
    ["biolink:NamedThing", "biolink:Gene"],
    ["biolink:Disease", "biolink:NamedThing", "biolink:PhenotypicFeature"],
    ["biolink:NamedThing", "biolink:Protein", "biolink:Protein"],
    ["biolink:Pathway", "biolink:NamedThing"],
]

N_ENTITIES = 400
# every DUP_STRIDE-th entity is a duplicate surface of its predecessor
# (shares an ALT identifier) -> the canonicalization CC must merge them
DUP_STRIDE = 13


def entity_curie(k: int) -> str:
    return f"MOCK:{k:05d}"


def entity_name(k: int) -> str:
    base = f"{_PREFIXES[k % 20]}{_STEMS[(k // 20) % 15]}"
    if k >= 300:
        return f"{base} variant {k}"  # multi-word names for trie tests
    return f"{base} {k}"


def entity_aliases(k: int) -> list[str]:
    """Surface forms for linking (case flip,
    plural; entities 200-209 additionally claim the NAME of entity
    k-200 — an ambiguous surface the linker must resolve by the
    exact-label bonus + TF-IDF rank)."""
    name = entity_name(k)
    aliases = [name, name.upper(), name + "s"]
    if 200 <= k < 210:
        aliases.append(entity_name(k - 200))
    return aliases


def entity_equivalent_identifiers(k: int) -> list[str]:
    """CURIE alias set (the reference's ``equivalent_identifiers``
    convention, mg_build_individual_json.py:29-38) — the ONLY merge
    keys canonicalization may use; surface-form aliases never merge
    entities."""
    ids = [entity_curie(k), f"ALT:{k}"]
    if k > 0 and k % DUP_STRIDE == 0:
        ids.append(f"ALT:{k - 1}")  # duplicate entity: CC must merge k with k-1
    return ids


def entity_categories(k: int) -> list[str]:
    return _CATEGORY_POOL[k % len(_CATEGORY_POOL)]


def canonical_of(k: int) -> int:
    """Closed-form expected canonicalization: entity k with
    k % DUP_STRIDE == 0 (k>0) merges with k-1; canonical id is the min
    member of the component."""
    if k > 0 and k % DUP_STRIDE == 0:
        return k - 1
    return k


# ---------------------------------------------------------------------------
# Sentences and expected triples
# ---------------------------------------------------------------------------


def page_sentence_specs(i: int, mult: int = 1) -> list[tuple[int, str, str, int]]:
    """The (subj_k, verb_phrase, biolink_pred, obj_k) list for page i.

    30% of pages lead with the hub entity 0 as subject — the hot-key
    analogue of the reference's NCBIGene:6868 hub
    (docs/cypher-cmds-1.txt:102) for skew/salting tests.

    ``mult`` scales sentences-per-page (bench corpora use heavier
    pages so per-page work approximates real web documents).
    """
    n_sent = (1 + (i % 3)) * mult
    out = []
    for j in range(n_sent):
        if (i + j) % 10 < 3:
            s = 0  # hub
        else:
            s = (i * 7 + j * 13) % N_ENTITIES
        o = (i * 11 + j * 17 + 1) % N_ENTITIES
        if o == s:
            o = (o + 1) % N_ENTITIES
        verb, pred = PREDICATES[(i + j) % len(PREDICATES)]
        out.append((s, verb, pred, o))
    return out


def page_sentences(i: int, mult: int = 1) -> list[str]:
    return [
        f"{entity_name(s).capitalize()} {verb} {entity_name(o)}."
        for (s, verb, _p, o) in page_sentence_specs(i, mult)
    ]


def expected_triples(n_pages: int, mult: int = 1) -> set[tuple[str, str, str]]:
    """Golden (subject_curie, predicate, object_curie) set for the P/R
    check — already canonicalized, English pages only."""
    out: set[tuple[str, str, str]] = set()
    for i in range(n_pages):
        if page_lang(i) != "en":
            continue
        for (s, _v, pred, o) in page_sentence_specs(i, mult):
            out.add(
                (
                    entity_curie(canonical_of(s)),
                    pred,
                    entity_curie(canonical_of(o)),
                )
            )
    return out


# ---------------------------------------------------------------------------
# Pages
# ---------------------------------------------------------------------------

_BOILER_NAV = "Home | About | Contact | Sign in"
_BOILER_FOOT = "© 2025 Example Site — Terms — Privacy"


def page_url(i: int) -> str:
    return f"https://site{i % 97}.example/page/{i}"


def page_lang(i: int) -> str:
    return "de" if i % 20 == 0 else "en"


def page_text(i: int, mult: int = 1) -> str:
    """The golden boilerplate-stripped extraction: one line per content
    paragraph, joined with a single newline."""
    return "\n".join(page_sentences(i, mult))


def page_html(i: int, mult: int = 1, filler_kb: int = 0) -> bytes:
    paras = "".join(
        f"<p class=\"c{j}\">  {html_mod.escape(s)} </p>\n"
        for j, s in enumerate(page_sentences(i, mult))
    )
    filler = ""
    if filler_kb:
        link = f"<a href=\"/nav/{i % 50}\" class=\"side\">related item</a> "
        filler = '<div class="sidebar">' + link * (filler_kb * 1024 // len(link)) + "</div>"
    doc = (
        "<html><head>"
        f"<title>T{i}</title>"
        "<style>body { font: 12px serif; }</style>"
        "<script>var x = '<p>not content</p>';</script>"
        "</head><body>"
        f"<nav>{_BOILER_NAV}</nav>"
        "<!-- comment <p>also not content</p> -->"
        f"<div id=\"main\">\n{paras}</div>"
        f"{filler}"
        f"<footer>{_BOILER_FOOT}</footer>"
        "</body></html>"
    )
    return doc.encode("utf-8")


def page_warc_ts(i: int) -> datetime.datetime:
    return datetime.datetime(2025, 1, 1) + datetime.timedelta(seconds=i)


# ---------------------------------------------------------------------------
# Writers
# ---------------------------------------------------------------------------


def write_pages(
    path: str, n_pages: int, mult: int = 1, filler_kb: int = 0, gzip_html: bool = False
) -> str:
    """Chunked writer: a bench corpus can be hundreds of thousands of
    ~19 KB pages — stream row-group-sized chunks instead of holding
    the whole table in memory.

    ``gzip_html=True`` stores each html payload gzip-compressed, the
    shape Common-Crawl WARC response bodies actually arrive in; the
    extraction kernel decompresses transparently on the magic bytes.
    ``mtime=0`` pins the gzip header so payloads stay deterministic.
    """
    import gzip as _gzip

    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def html_of(i: int) -> bytes:
        h = page_html(i, mult, filler_kb)
        if gzip_html:
            h = _gzip.compress(h, compresslevel=6, mtime=0)
        return h

    chunk = 20_000
    writer = None
    try:
        for lo in range(0, n_pages, chunk):
            hi = min(lo + chunk, n_pages)
            rng = range(lo, hi)
            tbl = pa.table(
                {
                    "url": pa.array([page_url(i) for i in rng], pa.string()),
                    "warc_ts": pa.array([page_warc_ts(i) for i in rng], pa.timestamp("us")),
                    "html": pa.array([html_of(i) for i in rng], pa.binary()),
                    "text": pa.array([page_text(i, mult) for i in rng], pa.string()),
                    "lang": pa.array([page_lang(i) for i in rng], pa.string()),
                }
            )
            if writer is None:
                writer = pq.ParquetWriter(path, tbl.schema)
            writer.write_table(tbl)
    finally:
        if writer is not None:
            writer.close()
    return path


def write_kgx_csv(out_dir: str, n_nodes: int = 200, n_edges: int = 600) -> dict[str, str]:
    """Reference-shaped KGX CSV fixture (FIXTURES.md §2): node/edge CSV
    files with ``;``-packed array cells plus tab-delimited typed header
    files, exercising the typed-header scan (S4), packed-array split
    (F1), float-string int cells (F2), join-miss drops (~2% dangling
    object refs), hub skew (30% of edges hit node 0), and small
    subclass trees.
    """
    import csv

    os.makedirs(out_dir, exist_ok=True)
    node_hdr = "id:ID\tname:string\tcategory:LABEL\tequivalent_identifiers:string[]\tdescription:string\tlipinski:int\trobokop_variant_id:string"
    edge_hdr = "subject:START_ID\tpredicate:TYPE\tobject:END_ID\tprimary_knowledge_source:string\tpublications:string[]\tp_value:float[]\tdistance_to_feature:int\tknowledge_level:string"
    paths = {
        "nodes_csv": os.path.join(out_dir, "nodes.csv"),
        "nodes_hdr": os.path.join(out_dir, "nodes.tab-hdr"),
        "edges_csv": os.path.join(out_dir, "edges.csv"),
        "edges_hdr": os.path.join(out_dir, "edges.tab-hdr"),
    }
    with open(paths["nodes_hdr"], "w", encoding="utf-8") as fh:
        fh.write(node_hdr + "\n")
    with open(paths["edges_hdr"], "w", encoding="utf-8") as fh:
        fh.write(edge_hdr + "\n")
    with open(paths["nodes_csv"], "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow([t.split(":")[0] for t in node_hdr.split("\t")])
        for k in range(n_nodes):
            cats = list(entity_categories(k))
            if k % 10 == 0:
                cats.append(cats[0])  # duplicate class -> O1 dedup path
            w.writerow(
                [
                    entity_curie(k),
                    entity_name(k),
                    ";".join(cats),
                    ";".join(entity_equivalent_identifiers(k)),
                    f"desc, with 'quote' and é {k}",
                    f"{k % 7}.0",  # float-string int cell (F2)
                    "" if k % 5 else f"rkv:{k}",
                ]
            )
    preds = ["biolink:affects", "biolink:treats", "biolink:subclass_of", "biolink:has_phenotype", "biolink:regulates"]
    with open(paths["edges_csv"], "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow([t.split(":")[0] for t in edge_hdr.split("\t")])
        for i in range(n_edges):
            subj = entity_curie(0 if i % 10 < 3 else (i * 7) % n_nodes)
            pred = preds[i % 5]
            if i % 50 == 49:  # ~2% dangling object -> join-drop path (J2)
                obj = f"MOCK:{n_nodes + i:05d}"
            elif pred == "biolink:subclass_of":
                obj = entity_curie((i * 7) % n_nodes // 2)  # shallow trees
            else:
                obj = entity_curie((i * 11 + 1) % n_nodes)
            w.writerow(
                [
                    subj,
                    pred,
                    obj,
                    f"infores:mock{i % 3}",
                    f"PMID:{i};PMID:{i + 1}",
                    "0.001;0.05",
                    f"{i % 100}.0",
                    "knowledge_assertion" if i % 4 else "",
                ]
            )
    return paths


def write_dictionary(path: str) -> str:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tbl = pa.table(
        {
            "curie": pa.array([entity_curie(k) for k in range(N_ENTITIES)], pa.string()),
            "label": pa.array([entity_name(k) for k in range(N_ENTITIES)], pa.string()),
            "aliases": pa.array([entity_aliases(k) for k in range(N_ENTITIES)], pa.list_(pa.string())),
            "equivalent_identifiers": pa.array(
                [entity_equivalent_identifiers(k) for k in range(N_ENTITIES)], pa.list_(pa.string())
            ),
            "categories": pa.array([entity_categories(k) for k in range(N_ENTITIES)], pa.list_(pa.string())),
        }
    )
    pq.write_table(tbl, path)
    return path
