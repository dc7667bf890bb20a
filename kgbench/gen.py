"""Seeded inputs for the KG-construction benchmark.

Everything here is a pure function of the seed and the workload's shape:
the ontology document (read by ``KGPipeline`` and ``build_corpus`` as
``ttl_path``), the ``owl:sameAs`` edge list, and the exact-size split of
a generated corpus into a base crawl and re-crawl batches.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from mhdb_tables2turtles_spark.operators.serialize import render_header
from mhdb_tables2turtles_spark.web.vocab import alias_variants

BASE_URI = "http://example.org/kgbench"

_TYPES = (":Disorder", ":Symptom", ":Measure", ":Assessment", ":Stimulus")
_ONSETS = ("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "dr", "kl", "pr", "st", "tr", "vl", "zh")
_VOWELS = ("a", "e", "i", "o", "u", "ai", "ou")
# the corpus generator's filler prose (web/pages.py); comments borrow it
# so entity profiles share tokens with page text and TF-IDF has signal
_FILLER = (
    "study results participants reported during the trial with baseline "
    "measures and control groups across sessions the analysis showed "
    "significant effects for condition and stimulus while subjects rated "
    "their experience on a scale music passages were presented under "
    "laboratory conditions and responses were recorded for later review"
).split()


@dataclass(frozen=True)
class Ontology:
    text: str  # the Turtle document
    same_as: list[tuple[str, str]]  # (src, dst) owl:sameAs edges
    surfaces: dict[str, set[str]]  # surface -> entity IRIs carrying it

    @property
    def shared_surfaces(self) -> int:
        return sum(1 for ents in self.surfaces.values() if len(ents) > 1)


def _word(rng: random.Random) -> str:
    while True:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.randint(2, 3))
        )
        if len(w) >= 4 and w not in _FILLER:
            return w


def _label(rng: random.Random) -> str:
    words = [_word(rng) for _ in range(rng.choice((1, 1, 2, 2, 3)))]
    if len(words) > 1 and rng.random() < 0.2:
        words[0:2] = [words[0] + "-" + words[1]]
    label = " ".join(words)
    if rng.random() < 0.1:
        acronym = "".join(rng.choice("ABCDEFGHKMNPRSTVZ") for _ in range(3))
        label += f" ({acronym})"
    return label


def make_ontology(
    seed: int, n_entities: int, shared_share: float, same_as_share: float
) -> Ontology:
    """Generate the ontology document.

    Distinct labels never share a surface form: every candidate label's
    :func:`alias_variants` is checked against the surfaces already taken.
    Shared surfaces are then made on purpose, by giving a homonym entity
    exactly the label of another entity, until ``shared_share`` of all
    distinct surfaces belong to more than one entity.
    """
    rng = random.Random(f"kgbench-ontology-{seed}")
    iris = [f":E{n:04d}" for n in range(n_entities)]
    labels: dict[str, str] = {}
    surfaces: dict[str, set[str]] = {}
    for iri in iris:
        while True:
            label = _label(rng)
            variants = alias_variants(label)
            if variants and not variants & surfaces.keys():
                break
        labels[iri] = label
        for v in variants:
            surfaces[v] = {iri}

    if shared_share > 0:
        owners = list(iris)
        rng.shuffle(owners)
        homonyms = owners[len(owners) // 2:]
        owners = owners[: len(owners) // 2]
        while sum(len(e) > 1 for e in surfaces.values()) < shared_share * len(surfaces):
            twin, source = homonyms.pop(), owners.pop()
            for v in alias_variants(labels[twin]):
                del surfaces[v]
            labels[twin] = labels[source]
            for v in alias_variants(labels[source]):
                surfaces[v].add(twin)

    same_as = []
    for iri in rng.sample(iris, round(same_as_share * n_entities)):
        other = rng.choice(iris)
        if other != iri:
            same_as.append((iri, other))

    label_words = [w for label in labels.values() for w in label.lower().split()]
    blocks = []
    for n, iri in enumerate(iris):
        comment = " ".join(
            [rng.choice(_FILLER) for _ in range(6)]
            + [rng.choice(label_words) for _ in range(4)]
        )
        pairs = [
            f"a {_TYPES[n % len(_TYPES)]}",
            f'rdfs:label """{labels[iri]}"""@en',
            f'rdfs:comment """{comment}"""@en',
        ]
        pairs += [f"owl:sameAs {dst}" for src, dst in same_as if src == iri]
        blocks.append(f"{iri} " + " ;\n\t".join(pairs) + " .")
    header = render_header(BASE_URI, "0.1.0", "kgbench", "benchmark ontology")
    return Ontology(header + "\n\n".join(blocks) + "\n", same_as, surfaces)


def with_split(pages, seed: int, sizes: list[int]):
    """``pages`` plus a ``split`` column: the pages, ordered by a seeded
    non-negative url hash (``pmod``, so no sign flips the order), fall
    into consecutive groups of exactly ``sizes[k]`` pages, labelled k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rank = F.row_number().over(
        Window.orderBy(
            F.pmod(F.xxhash64(F.lit(seed), "url"), F.lit(1 << 62)), "url"
        )
    )
    split, bound = None, 0
    for k, size in enumerate(sizes):
        bound += size
        split = (F.when if split is None else split.when)(rank <= bound, k)
    return pages.withColumn("split", split)
