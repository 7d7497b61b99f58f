"""corpus_curation: the cold build of the LLM-data chain over `documents`:
`dedup.dedup_minhash_lsh` -> `components._components` ->
`curation.pipeline_curate_corpus`. One operation is one build. The
session-scoped operator memos for this corpus are emptied first, because a
user pays this chain once per new corpus.

Every build is checked in plain Python: each verified pair's Jaccard is
recomputed from the shingle sets, planted pairs of Jaccard >= 0.9 must be
found, component labels must equal the connected components of the pair
graph, the fate ledger must hold one row per document with the fate the
curation rules give, and pair and component counts must not change
between builds.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict
from itertools import combinations

from kalytical_spark.operators import common, components, curation, dedup
from kalytical_spark.operators.text import STOPWORDS

from probe import pct

HIGH_JACCARD = 0.9


def _shingles(toks: list[str]) -> set[str]:
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class Reference:
    def __init__(self, docs) -> None:
        self.doc_ids = set(docs)
        toks = {d: text.split(" ") for d, text in docs.items()}
        self.shingles = {d: _shingles(t) for d, t in toks.items() if len(t) >= 3}
        self.quality_ok = {}
        keeper: dict[str, int] = {}
        for d, t in sorted(toks.items()):
            n = len(t)
            stop = sum(x in STOPWORDS for x in t) / n
            ok = (curation.QUALITY_MIN_TOKENS <= n <= curation.QUALITY_MAX_TOKENS
                  and stop < curation.QUALITY_MAX_STOPWORD_RATIO)
            self.quality_ok[d] = ok
            if ok:
                keeper.setdefault(" ".join(sorted(t)), d)
        self.survivors = set(keeper.values())
        # Pairs of Jaccard >= HIGH_JACCARD by prefix filtering: with the
        # shingles of every document in one global order (rarest first), two
        # sets of Jaccard >= t share a shingle among the first
        # |s| - ceil(t |s|) + 1 of each.
        df = Counter(s for sh in self.shingles.values() for s in sh)
        index = defaultdict(list)
        for d, sh in self.shingles.items():
            ordered = sorted(sh, key=lambda s: (df[s], s))
            for s in ordered[: len(ordered) - math.ceil(HIGH_JACCARD * len(ordered)) + 1]:
                index[s].append(d)
        shared = {p for ds in index.values() for p in combinations(sorted(ds), 2)}
        self.high_pairs = {
            (a, b) for a, b in shared
            if _jaccard(self.shingles[a], self.shingles[b]) >= HIGH_JACCARD
        }

    def fates(self, pairs) -> dict[int, str]:
        dropped = {b for a, b, j in pairs
                   if j >= curation.NEAR_DUP_JACCARD and a in self.survivors}
        out = {}
        for d in self.doc_ids:
            if not self.quality_ok[d]:
                out[d] = "dropped_quality"
            elif d not in self.survivors:
                out[d] = "dropped_exact_dup"
            elif d in dropped:
                out[d] = "dropped_near_dup"
            else:
                out[d] = "kept"
        return out


def _components_of(pairs) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class CorpusCuration:
    name = "corpus_curation"
    nominal_op_s = 10
    python_workers = False
    views = ()

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        docs = ctx.spark.table("documents").select("doc_id", "text").collect()
        self.ref = Reference({r.doc_id: r.text for r in docs})
        self.n_docs = len(docs)
        self.builds = 0
        self.failed = 0
        self.seconds = 0.0
        self.done_docs = 0
        self.build_ms: list[float] = []
        self.counts: tuple[int, int] | None = None
        self.mismatches: list[str] = []

    def _drop_memos(self) -> None:
        """Empty every session memo held for this corpus."""
        key = (common.app_key(self.ctx.spark), self.ctx.sf_dir)
        for memo in common.SESSION_MEMOS:
            common._unpersist_value(memo.pop(key, None))

    def step(self, traced: bool) -> None:
        """Run one cold build."""
        spark, sf, tracer, counters = self.ctx.spark, self.ctx.sf_dir, self.ctx.tracer, self.ctx.counters
        self._drop_memos()
        group = f"curation-{self.builds}"
        if traced:
            counters.set_group(group)
        self.builds += 1
        try:
            with tracer.timed("corpus_curation.build") as build:
                with tracer.timed("operators.dedup.dedup_minhash_lsh"):
                    pairs = [(r.doc_a, r.doc_b, r.jaccard)
                             for r in dedup.dedup_minhash_lsh(spark, sf).collect()]
                with tracer.timed("operators.components._components"):
                    labels = {r.doc_id: r.component_id
                              for r in components._components(spark, sf).collect()}
                with tracer.timed("operators.curation.pipeline_curate_corpus"):
                    fate = [(r.doc_id, r.fate) for r in
                            curation.pipeline_curate_corpus(spark, sf).select("doc_id", "fate").collect()]
        except Exception as exc:  # noqa: BLE001 - a failed build is counted, not fatal
            error = repr(exc)
        else:
            error = self._check(pairs, labels, fate)
        finally:
            if traced:
                counters.set_group(None)
                counters.collect(group)
        if error is not None:
            self.failed += 1
            self.mismatches.append(error)
        elif not traced:
            self.build_ms.append(build.seconds * 1000)
            self.seconds += build.seconds
            self.done_docs += self.n_docs

    def _check(self, pairs, labels, fate) -> str | None:
        ref = self.ref
        keys = [(a, b) for a, b, _ in pairs]
        if len(set(keys)) != len(keys) or any(a >= b for a, b in keys):
            return "pairs not unique and ordered"
        for a, b, j in pairs:
            exact = _jaccard(ref.shingles[a], ref.shingles[b])
            if abs(j - exact) > 1e-12 or exact < dedup.LSH_VERIFY_THRESHOLD:
                return f"pair ({a}, {b}) jaccard {j}, exact {exact}"
        if not ref.high_pairs <= set(keys):
            return f"{len(ref.high_pairs - set(keys))} pairs of jaccard >= {HIGH_JACCARD} missed"
        if labels != _components_of(pairs):
            return "component labels differ from the pair graph's components"
        fates = dict(fate)
        if len(fate) != self.n_docs or fates != ref.fates(pairs):
            return f"fate ledger differs ({len(fate)} rows for {self.n_docs} docs)"
        counts = (len(pairs), len(set(labels.values())))
        if self.counts is None:
            self.counts = counts
        elif counts != self.counts:
            return f"pair/component counts {counts} changed from {self.counts}"
        return None

    def op_latencies(self) -> list[float]:
        return self.build_ms

    def traced_latencies(self) -> list[float]:
        return [s * 1000 for s in self.ctx.tracer.seconds("corpus_curation.build")]

    def throughput(self) -> float:
        return self.done_docs / self.seconds

    def attempted(self) -> int:
        return self.builds

    def per_layer(self) -> dict:
        tracer = self.ctx.tracer
        if not tracer.seconds("corpus_curation.build") or self.counts is None:
            return {}
        candidates = dedup._lsh_candidates(self.ctx.spark, self.ctx.sf_dir).count()
        pairs, n_components = self.counts
        return {
            "dedup.lsh_pairs_s": pct(tracer.seconds("operators.dedup.dedup_minhash_lsh"), 50),
            "dedup.candidates": float(candidates),
            "dedup.verified_pairs": float(pairs),
            "dedup.precision": pairs / candidates if candidates else 0.0,
            "components.cc_s": pct(tracer.seconds("operators.components._components"), 50),
            "components.n_components": float(n_components),
            "curation.curate_s": pct(tracer.seconds("operators.curation.pipeline_curate_corpus"), 50),
        }
