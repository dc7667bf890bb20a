"""PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing capabilities of
``charlie42/mhdb-tables2turtles`` (reference at ``/root/reference``, studied
for *semantics only*): row->RDF triple minting, FK explode-joins,
set-semantics dedup, deterministic label/IRI normalization, and Turtle
serialization -- generalized to a staged, resumable, web-scale KG pipeline
(HTML->text extraction, token-index mention scan (``web/trie.py``),
entity linking, connected-components canonicalization, graph
materialization).

Everything is declarative DataFrame dataflow; Python appears only inside
Arrow-batched pandas UDFs (never per-row on the hot path).
"""

# imported for its effect: every process that imports the package, Python
# workers included, keeps zip directories across importlib.invalidate_caches()
from mhdb_tables2turtles_spark import _zipcache  # noqa: F401

__version__ = "0.1.0"
