"""Predicate lexicon for the pattern-based (OpenIE-style) triple
extractor: surface verb phrase -> biolink predicate CURIE.

Kept in its own Spark-free module so the fixture generator and the
extraction UDFs share one source of truth.
"""

PREDICATE_LEXICON: list[tuple[str, str]] = [
    ("treats", "biolink:treats"),
    ("affects", "biolink:affects"),
    ("regulates", "biolink:regulates"),
    ("interacts with", "biolink:interacts_with"),
    ("is part of", "biolink:part_of"),
    ("causes", "biolink:causes"),
    ("prevents", "biolink:prevents"),
    ("binds to", "biolink:binds"),
]
