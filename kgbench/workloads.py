"""The benchmark workloads: inputs, timed units and output checks.

A *unit* is what one timing covers: a full crawl pass for the crawl
workloads, one ``KGPipeline.update`` epoch for ``recrawl_update``.  A
unit that raises or fails its output check counts as failed.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

from pyspark.sql import functions as F

from kgbench.gen import make_ontology, with_split
from mhdb_tables2turtles_spark.operators.validate import validate_turtle
from mhdb_tables2turtles_spark.sources.golden import parse_turtle_body
from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus


@dataclass(frozen=True)
class Shape:
    kind: str  # "crawl" or "update"
    pages: int  # crawl pages, or base-crawl pages for "update"
    entities: int = 400
    shared_share: float = 0.0  # share of surfaces carried by >1 entity
    same_as_share: float = 0.0  # share of entities with an owl:sameAs edge
    include_ontology: bool = False
    write_turtle: bool = False
    epochs: int = 0  # "update": timed epochs per sequence
    batch_share: float = 0.1  # "update": batch size as a share of the base


SHAPES = {
    "crawl_clean": Shape("crawl", 800),
    "crawl_ambiguous": Shape(
        "crawl", 400, shared_share=0.10, same_as_share=0.20,
        include_ontology=True, write_turtle=True,
    ),
    "recrawl_update": Shape("update", 300, same_as_share=0.03, epochs=3),
}

ORACLE_SAMPLE = 40  # expected pages checked by the whole-word oracle per pass
_WORD = "A-Za-z0-9_"  # the scan's word characters (web/trie.py)


@dataclass
class Unit:
    seconds: float
    pages: int
    ok: bool
    workdir_bytes: int | None = None  # on the unit that ends a workdir
    fingerprint: list | None = None  # canonical graph, checked later
    traced: bool = False


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


class Workload:
    """One workload's inputs, under ``work``.

    ``scale`` divides every page count and ``cores`` is the parallelism
    the timed units run at (it sets the input file count): the
    weak-scaling side runs the same workload at ``scale=4`` on
    ``local[1]``.  :meth:`prepare` writes the inputs; :meth:`attach`
    binds them to a session, which may live in another process.
    """

    def __init__(self, name: str, seed: int, work: str,
                 scale: int = 1, cores: int = 1):
        sh = self.shape = SHAPES[name]
        self.name = name
        self.seed = seed
        self.work = work
        self.cores = cores
        self.n_units = 0
        self.onto = make_ontology(
            seed, sh.entities, sh.shared_share, sh.same_as_share
        )
        self.ttl = os.path.join(work, "ontology.ttl")
        self.n_pages = sh.pages // scale
        self.n_batch = round(sh.batch_share * self.n_pages)
        # update: the base crawl's pages, the warm-up epoch's batch, then
        # one batch per timed epoch
        self.sizes = [self.n_pages]
        if sh.kind == "update":
            self.sizes += [self.n_batch] * (sh.epochs + 1)
        self.base = os.path.join(work, "base")
        self.reference_path = os.path.join(work, "reference.json")

    def _input(self, k: int | None = None) -> str:
        corpus = os.path.join(self.work, "corpus")
        return corpus if k is None else os.path.join(corpus, f"split={k}")

    def describe(self) -> str:
        sh = self.shape
        pages = " + ".join(str(n) for n in self.sizes)
        return (
            f"inputs: vocabulary={len(self.onto.surfaces)} surfaces over "
            f"{sh.entities} entities, ambiguous_surfaces="
            f"{self.onto.shared_surfaces}, same_as_edges="
            f"{len(self.onto.same_as)}, pages={pages}"
        )

    # ------------------------------------------------------------ inputs

    def prepare(self, spark) -> None:
        """Write the ontology and the corpus (for ``update`` split into
        the base and the batches).  For ``update`` also run the base
        crawl and epoch 0 on top of it: that epoch commits the base
        component labels every later epoch reuses, so all timed epochs
        do the same kind of work."""
        t0 = time.monotonic()
        os.makedirs(self.work, exist_ok=True)
        with open(self.ttl, "w", encoding="utf-8") as f:
            f.write(self.onto.text)
        pages = build_corpus(
            spark, sum(self.sizes), seed=self.seed, ttl_path=self.ttl,
            partitions=self.cores,
        )
        writer = pages.write
        if self.shape.kind == "update":
            pages = with_split(pages, self.seed, self.sizes).repartition(self.cores)
            writer = pages.write.partitionBy("split")
        writer.mode("overwrite").parquet(self._input())
        self.attach(spark)
        print(f"inputs written in {time.monotonic() - t0:.1f} s", flush=True)
        if self.shape.kind == "update":
            t0 = time.monotonic()
            pipe = KGPipeline(spark, self.base, self.ttl)
            pipe.run(self.splits[0], extra_equiv_edges=self.edges)
            t1 = time.monotonic()
            pipe.update(self.splits[1], "e0")["canonical"].count()
            print(f"base crawl {t1 - t0:.1f} s, epoch 0 "
                  f"{time.monotonic() - t1:.1f} s", flush=True)

    def attach(self, spark) -> None:
        """Bind the written inputs to ``spark`` and derive the checks."""
        self.spark = spark
        self.pages = spark.read.parquet(self._input())
        self.edges = (
            spark.createDataFrame(self.onto.same_as, "src string, dst string")
            if self.onto.same_as else None
        )
        if self.shape.kind == "update":
            self.splits = [
                spark.read.parquet(self._input(k)) for k in range(len(self.sizes))
            ]
            got = dict(self.pages.groupBy("split").count().collect())
            if got != dict(enumerate(self.sizes)):
                raise RuntimeError(f"split sizes {got}, requested {self.sizes}")
        elif self.name == "crawl_clean":
            pick = F.pmod(F.xxhash64(F.lit(self.seed), "url"), F.lit(self.n_pages))
            sample = (
                self.pages.where(pick < ORACLE_SAMPLE).select("url", "text").collect()
            )
            self.oracle = _oracle_mentions(sample, self.onto.surfaces)
            self.sample_urls = [r.url for r in sample]
        else:
            label = _min_label(self.onto.same_as)
            self.expected = {
                (label.get(s, s), p, label.get(o, o))
                for s, p, o in parse_turtle_body(self.onto.text)
            }

    # ------------------------------------------------------------ units

    def warm_up(self) -> None:
        """One untimed pass, so the timed ones see warm caches and a full
        set of Python workers (for ``update`` the base crawl and epoch 0
        in :meth:`prepare` warm up)."""
        if self.shape.kind == "crawl":
            self._crawl_pass(None)

    def step(self, tracer=None) -> list[Unit]:
        """One timed pass (crawl) or one sequence of timed epochs
        (update).  With a tracer the pass is traced, or every second
        epoch is, so plain and traced epochs interleave in one sequence."""
        if self.shape.kind == "crawl":
            return [self._crawl_pass(tracer)]
        return self._update_sequence(tracer)

    def turtle_pass(self, tracer) -> Unit:
        """A crawl pass that also writes Turtle, for workloads whose own
        passes do not: traced runs use it to cover operators.serialize."""
        return self._crawl_pass(tracer, write_turtle=True)

    def _crawl_pass(self, tracer, write_turtle: bool | None = None) -> Unit:
        sh = self.shape
        turtle = sh.write_turtle if write_turtle is None else write_turtle
        wd = self._fresh_workdir()

        def crawl():
            return KGPipeline(self.spark, wd, self.ttl).run(
                self.pages,
                include_ontology=sh.include_ontology,
                write_turtle=turtle,
            )

        try:
            secs, out = self._timed(tracer, self.n_pages, crawl)
            ok = self._check_crawl(out, wd, turtle)
            unit = Unit(secs, self.n_pages, ok, dir_bytes(wd),
                        traced=tracer is not None)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            unit = Unit(float("nan"), self.n_pages, False)
        shutil.rmtree(wd, ignore_errors=True)
        return unit

    def _update_sequence(self, tracer) -> list[Unit]:
        """Copy the committed base (with epoch 0), then apply the batches
        as timed epochs; the last one carries the canonical fingerprint
        and the workdir size."""
        n = self.shape.epochs
        wd = self._fresh_workdir()
        shutil.copytree(self.base, wd)
        units: list[Unit] = []
        try:
            pipe = KGPipeline(self.spark, wd, self.ttl)
            for k in range(1, n + 1):

                def epoch():
                    out = pipe.update(self.splits[k + 1], f"e{k}")
                    out["canonical"].count()
                    return out

                traced = tracer if k % 2 == 0 else None
                secs, out = self._timed(traced, self.n_batch, epoch)
                units.append(Unit(secs, self.n_batch, True,
                                  traced=traced is not None))
            units[-1].fingerprint = _fingerprint(out["canonical"])
            units[-1].workdir_bytes = dir_bytes(wd)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            if len(units) == n:  # the epochs ran; their check did not
                units[-1].ok = False
            units += [
                Unit(float("nan"), self.n_batch, False)
                for _ in range(n - len(units))
            ]
        shutil.rmtree(wd, ignore_errors=True)
        return units

    def _timed(self, tracer, pages: int, fn):
        """-> (monotonic seconds of ``fn()``, its result); with a tracer
        the call is one traced unit.  Both heaps are collected first, so
        no unit pays for garbage an earlier one left."""
        gc.collect()
        self.spark._jvm.System.gc()
        out = None
        if tracer is not None:
            tracer.begin_unit()
        try:
            t0 = time.monotonic()
            out = fn()
            return time.monotonic() - t0, out
        finally:
            if tracer is not None:
                tracer.end_unit(out, pages)

    def _fresh_workdir(self) -> str:
        self.n_units += 1
        return os.path.join(self.work, f"unit_{self.n_units}")

    # ------------------------------------------------------------ checks

    def build_reference(self) -> None:
        """``update``: an untimed full ``run()`` over the base and every
        batch; its canonical graph is what each sequence's last epoch
        must equal (``update()`` promises equality for an unambiguous
        vocabulary).  Written to ``reference.json``."""
        if self.shape.kind != "update":
            return
        wd = self._fresh_workdir()
        pages = self.splits[0]
        for df in self.splits[1:]:
            pages = pages.unionByName(df)
        out = KGPipeline(self.spark, wd, self.ttl).run(
            pages, extra_equiv_edges=self.edges
        )
        with open(self.reference_path, "w") as f:
            json.dump(_fingerprint(out["canonical"]), f)
        shutil.rmtree(wd, ignore_errors=True)

    def check(self, units: list[Unit]) -> None:
        """Mark each sequence-ending epoch against the reference graph."""
        pending = [u for u in units if u.fingerprint is not None]
        if not pending:
            return
        with open(self.reference_path) as f:
            reference = json.load(f)
        for u in pending:
            u.ok = u.ok and u.fingerprint == reference

    def _check_crawl(self, out: dict, wd: str, turtle: bool) -> bool:
        canonical = out["canonical"]
        if self.name == "crawl_clean":
            if self._mentions_of(canonical) != self.oracle:
                return False
        else:
            ontology = {
                (r.subject, r.predicate, r.object)
                for r in canonical.filter(F.col("subject").startswith(":E")).collect()
            }
            if not self.expected <= ontology:
                return False
        if turtle:
            ttl_dir = os.path.join(wd, "ttl")
            parts = sorted(p for p in os.listdir(ttl_dir) if p.startswith("part-"))
            doc = []
            for name in ["header.ttl", *parts]:
                with open(os.path.join(ttl_dir, name), encoding="utf-8") as f:
                    doc.append(f.read())
            validate_turtle("".join(doc))  # raises on the first violation
        return True

    def _mentions_of(self, canonical) -> set[tuple[str, str]]:
        """(url, entity) pairs of the oracle sample's ``:mentions`` triples."""
        urls = canonical.filter(
            (F.col("predicate") == ":hasURL")
            & F.col("object").isin(
                [f'"{u}"^^xsd:anyURI' for u in self.sample_urls]
            )
        ).select("subject", F.col("object").alias("url"))
        rows = (
            canonical.filter(F.col("predicate") == ":mentions")
            .join(urls, "subject")
            .select("url", "object")
            .collect()
        )
        return {(r.url[1:-len('"^^xsd:anyURI')], r.object) for r in rows}


def _fingerprint(df) -> list:
    """[rows, two order-free hash sums] of a distinct triple set."""
    cols = ("subject", "predicate", "object")
    row = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
        F.sum(F.hash(*cols).cast("decimal(38,0)")),
    ).first()
    return [row[0], str(row[1]), str(row[2])]


def _oracle_mentions(sample, surfaces: dict[str, set[str]]) -> set[tuple[str, str]]:
    """Pure-Python whole-word matcher: each surface searched in the
    lowercased text, bounded by non-word characters or the text's ends."""
    patterns = [
        (re.compile(rf"(?<![{_WORD}]){re.escape(s)}(?![{_WORD}])"), ents)
        for s, ents in surfaces.items()
    ]
    out = set()
    for row in sample:
        low = (row.text or "").lower()
        for pat, ents in patterns:
            if pat.search(low):
                out.update((row.url, e) for e in ents)
    return out


def _min_label(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Node -> minimum node of its connected component (union-find)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
