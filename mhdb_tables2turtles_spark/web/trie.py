"""Token-index word-boundary multi-pattern matcher (pure Python,
dependency-free).

Generalizes the reference's exact-label matching (labels and aliases
resolved by equality against dimension sheets, ``mhdb/ingest.py``) to
streaming text: one pass over a page finds every vocabulary term.

Execution model: the term list rides to executors once (Spark broadcast);
the matcher is built lazily per worker and memoized by its pattern
tuple, so a 1000-executor cluster builds it 1000 times total, not once
per batch or per row.  Matching itself runs inside Arrow-batched
``mapInPandas`` (see :mod:`mentions`).
"""

from __future__ import annotations

import functools
import re

__all__ = ["TokenIndexMatcher", "matcher_for"]

_WORD_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_"
)


class TokenIndexMatcher:
    """Word-boundary multi-pattern matcher, token-indexed.

    Emits the exact same match SET as a classic Aho-Corasick automaton
    filtered to word boundaries (every word-boundary occurrence of every
    pattern, nested and overlapping included — pinned by a differential
    test against an automaton oracle in tests/test_web_pipeline.py) but
    restructured for CPython speed: an automaton steps a Python loop
    once per CHARACTER with dict lookups and a generator chain; here the
    only Python-level loop is once per word TOKEN (C-speed
    ``re.finditer`` tokenization, one dict probe per token, C-speed
    ``str.startswith`` verification of the few candidates).  Word-boundary semantics make this equivalent: every
    match must start at a token start, so probing each token start
    against an index of patterns-by-first-token finds every candidate,
    and nested patterns sharing a first token ("anxiety", "anxiety
    disorder") are simply sibling candidates at the same probe.

    On the pipeline's ~5 KB pages this is ~6x fewer loop iterations per
    page than the automaton walk; the mention scan is the KG pipeline's
    dominant stage, so this is the hot path of the whole engine.

    Patterns that do not begin with a word character (none in the
    vocabulary today) cannot be token-indexed and fall back to an exact
    all-occurrences ``str.find`` scan with the same boundary checks.
    """

    def __init__(self, patterns: list[str]):
        self.patterns = list(patterns)
        self._token_re = _TOKEN_RE
        # first word token -> [(pattern, len, idx), ...] in insertion order
        index: dict[str, list[tuple[str, int, int]]] = {}
        fallback: list[tuple[str, int, int]] = []
        for idx, pat in enumerate(self.patterns):
            m = self._token_re.match(pat)
            if m is None:  # empty or starts with a non-word char
                if pat:
                    fallback.append((pat, len(pat), idx))
                continue
            index.setdefault(m.group(), []).append((pat, len(pat), idx))
        self._index = index
        self._fallback = fallback
        # (A measured dead end, recorded so it isn't retried: probing
        # candidate sites with one compiled ``\b(?:tok1|...|tokN)\b``
        # alternation — so non-vocabulary tokens never reach Python —
        # benched 4x SLOWER than this per-token dict probe on the
        # synthetic corpus: CPython's ``re`` tries alternatives
        # sequentially per position, and at ~300 keys with ~12% of
        # tokens matching, the alternation walk dwarfs 1500 cheap dict
        # probes.  A trie-compiling engine (re2/hyperscan) would invert
        # that; neither is in the sandbox.)

    def find_words(self, text: str):
        """Yield ``(start, end, pattern_index)`` for every word-boundary
        occurrence (start preceded by a non-word char or text edge, end
        followed by one)."""
        n = len(text)
        get = self._index.get
        word = _WORD_CHARS
        for m in self._token_re.finditer(text):
            cands = get(m.group())
            if cands is None:
                continue
            s = m.start()  # token start: left boundary holds by definition
            for pat, plen, idx in cands:
                e = s + plen
                if text.startswith(pat, s) and (e >= n or text[e] not in word):
                    yield s, e, idx
        for pat, plen, idx in self._fallback:
            pos = text.find(pat)
            while pos != -1:
                e = pos + plen
                if (pos == 0 or text[pos - 1] not in word) and (
                    e >= n or text[e] not in word
                ):
                    yield pos, e, idx
                pos = text.find(pat, pos + 1)


_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")


@functools.lru_cache(maxsize=4)
def matcher_for(patterns: tuple[str, ...]) -> TokenIndexMatcher:
    """Per-worker memoized matcher, keyed by the pattern tuple itself
    (broadcast lists are small; the index is the expensive part).  A
    long-lived worker keeps the 4 most recently used tuples."""
    return TokenIndexMatcher(list(patterns))
