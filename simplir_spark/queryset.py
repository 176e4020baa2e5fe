"""The reference query set (FIXTURES.md §2).

Mirrors the shape of the reference's TSV query file
(simplir-tools/Search.hs:131-142: ``qid \\t terms ...``); terms are drawn
from the synthetic corpus vocabulary to exercise: high-df terms, the rare
``dup`` term, absent terms (df=0), sub-3-char terms (normalize to
nothing), duplicate query terms (deduped per SimpleIndex.hs:142), and
mixed cases.
"""

from __future__ import annotations

QUERIES: list[tuple[str, list[str]]] = [
    ("Q01", ["join"]),
    ("Q02", ["hash", "join"]),
    ("Q03", ["customer", "order", "key"]),
    ("Q04", ["window", "agg"]),
    ("Q05", ["dup"]),
    ("Q06", ["dup", "merge"]),
    ("Q07", ["the"]),
    ("Q08", ["zebra"]),                      # absent term -> empty result
    ("Q09", ["a"]),                          # len<=2 -> matches nothing
    ("Q10", ["scan", "scan", "scan"]),       # dedup to {scan}
    ("Q11", ["spark", "vector", "stream"]),
    ("Q12", ["big", "data", "fast", "slow"]),
    ("Q13", ["filter", "sort", "query", "table"]),
    ("Q14", ["dup", "zebra", "join"]),
    ("Q15", ["column", "row", "line", "part", "batch"]),
    ("Q16", ["group", "the", "dup"]),
]
