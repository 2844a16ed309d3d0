"""The benchmark's workloads: inputs, job command line, output checks and
the quality figure, one class per deployable job.

Checks read the job's parquet output with pyarrow, so they add no Spark
jobs to the session. The reference results they compare against are
computed in plain Python from the seeded inputs.
"""

from __future__ import annotations

import io
import json
import os
import re
import shutil
from collections import Counter, defaultdict
from contextlib import redirect_stdout

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import inputs


class CheckFailed(Exception):
    pass


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _call_main(module: str, argv: list[str]) -> dict:
    """Run ``<module>.main(argv)`` and return the JSON summary it prints."""
    job = __import__(module)
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = job.main(argv)
    _check(rc == 0, f"{module}.main returned {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _weighted_pairs(groups) -> float:
    """Σ over groups of count-weighted within-group pairs."""
    total = 0.0
    for counts in groups:
        s = sum(counts)
        total += (s * s - sum(c * c for c in counts)) / 2
    return total


def pairwise_f1(pred: dict, ref: dict, count: dict) -> float:
    """Count-weighted pairwise F1 of partition ``pred`` against ``ref``
    (both string → label), the measure ``evaluate.score_predicted`` uses."""
    cells, p_groups, r_groups = defaultdict(list), defaultdict(list), defaultdict(list)
    for s, c in count.items():
        cells[(pred[s], ref[s])].append(c)
        p_groups[pred[s]].append(c)
        r_groups[ref[s]].append(c)
    tp = _weighted_pairs(cells.values())
    denom = _weighted_pairs(p_groups.values()) + _weighted_pairs(r_groups.values())
    return 2 * tp / denom if denom else 1.0


def _components(nodes, edges) -> dict:
    """Union-find: node → min node of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


class ERWorkload:
    """``jobs/run_pipeline.py`` on seeded fixture records: exact-key,
    token-similarity and embedding passes, fused connected components,
    record assignment.

    The graph has about 2k edges, so the job's default 100k-edge cap would
    send it to the driver-side union-find. The lowered cap sends it through
    the iterative large-star/small-star components and the label election
    instead, the path a graph above the default cap takes."""

    job = "run_pipeline"
    n_entities = 300
    token_threshold = 0.7
    passes = "exact_key,token_sim,embedding"
    cc_driver_edge_cap = 500
    # a warm run takes 12-17 s: one keeps a process near one minute
    warm_runs = 1

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input = os.path.join(work, "er_records.parquet")
        self.output = os.path.join(work, "er_out")

    def prepare(self) -> None:
        self.gold = inputs.write_er_records(self.input, self.seed, self.n_entities)
        self.n_records = sum(c for _, c, _ in self.gold)

    def argv(self, output: str | None = None) -> list[str]:
        return [
            "--input", self.input, "--output", output or self.output,
            "--passes", self.passes,
            "--token-threshold", str(self.token_threshold),
            "--cc-driver-edge-cap", str(self.cc_driver_edge_cap),
            "--assign-records",
        ]

    def run(self) -> dict:
        shutil.rmtree(self.output, ignore_errors=True)
        return _call_main(self.job, self.argv())

    def reference(self) -> None:
        """Reference-semantics partition: union-find over the exact
        ``oracle_simplify_corp`` keys plus the token-similarity oracle's
        ≥-threshold edges between normalized forms."""
        from tests.oracle_tokensim import (
            oracle_candidate_pairs,
            oracle_fit,
            oracle_jaccard,
            oracle_simplify_corp,
        )

        strings = [s for s, _, _ in self.gold]
        norm = {s: oracle_simplify_corp(s) for s in strings}
        rep = {}
        edges = []
        for s in strings:
            if norm[s]:
                edges.append((s, rep.setdefault(norm[s], s)))
        tok_sets, weights, doc = oracle_fit(sorted(rep), "nmgrams23", "tf-idf")
        for a, b in oracle_candidate_pairs(tok_sets, doc, 100):
            if oracle_jaccard(tok_sets[a], tok_sets[b], weights) >= self.token_threshold:
                edges.append((rep[a], rep[b]))
        self.ref = _components(strings, edges)
        self.count = {s: c for s, c, _ in self.gold}
        self.last_quality = 0.0

    def read_output(self, output: str | None = None) -> dict:
        t = pq.read_table(os.path.join(output or self.output, "clusters"))
        return dict(zip(t.column("string").to_pylist(), t.column("group").to_pylist()))

    def check(self, summary: dict, output: str | None = None) -> dict:
        """Checks one run's output; returns its partition."""
        out = output or self.output
        part = self.read_output(out)
        _check(set(part) == set(self.count), "clustered strings != input strings")
        _check(summary["strings"] == len(part), "summary strings != written rows")
        _check(summary["groups"] == len(set(part.values())), "summary groups mismatch")
        self.last_quality = pairwise_f1(part, self.ref, self.count)
        _check(self.last_quality >= 0.99,
               f"pairwise F1 {self.last_quality:.4f} < 0.99 against the reference")
        rec = pq.read_table(os.path.join(out, "records_with_groups"),
                            columns=["repo", "entity_group"])
        _check(rec.num_rows == self.n_records, "assigned records != input records")
        _check(
            all(part[r] == g for r, g in zip(rec.column("repo").to_pylist(),
                                             rec.column("entity_group").to_pylist())),
            "a record's entity_group differs from its string's cluster",
        )
        return _canonical(part)


def _canonical(part: dict) -> frozenset:
    groups = defaultdict(set)
    for s, g in part.items():
        groups[g].add(s)
    return frozenset(frozenset(m) for m in groups.values())


class CorpusWorkload:
    """``jobs/run_corpus_pipeline.py`` on seeded documents with the flags
    of ``bench.py``'s corpus_pipeline leaf."""

    job = "run_corpus_pipeline"
    n_docs = 2000
    # a warm run takes 9-12 s: two keep a process near one minute
    warm_runs = 2
    shingle_k = 3
    threshold = 0.8

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.input = os.path.join(work, "documents.parquet")
        self.output = os.path.join(work, "corpus_out")

    def prepare(self) -> None:
        self.docs = inputs.make_documents(self.seed, self.n_docs)
        inputs.write_documents(self.input, self.docs)
        self.n_records = len(self.docs)

    def argv(self, output: str | None = None) -> list[str]:
        return [
            "--input", self.input, "--output", output or self.output,
            "--near-dup-threshold", str(self.threshold),
            "--min-quality", "0.3",
            "--langs", "en,de,fr,es,zh,und",
        ]

    def run(self) -> dict:
        shutil.rmtree(self.output, ignore_errors=True)
        return _call_main(self.job, self.argv())

    def reference(self) -> None:
        """Exact word-shingle Jaccard pairs ≥ threshold over the input,
        with ``dedup.word_shingles``' tokenization (lowercase, trim,
        whitespace split, distinct k-word shingles)."""
        k = self.shingle_k
        sh = {}
        for doc in self.docs:
            doc_id, text = doc["doc_id"], doc["text"]
            toks = re.split(r"\s+", text.strip().lower())
            sh[doc_id] = (
                {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
                if len(toks) >= k else {" ".join(toks)}
            )
        postings = defaultdict(list)
        for doc_id, s in sh.items():
            for g in s:
                postings[g].append(doc_id)
        inter = Counter()
        for ids in postings.values():
            ids.sort()
            for i, a in enumerate(ids):
                for b in ids[i + 1:]:
                    inter[(a, b)] += 1
        self.ref_pairs = [
            (a, b) for (a, b), n in inter.items()
            if n / (len(sh[a]) + len(sh[b]) - n) >= self.threshold
        ]
        _check(len(self.ref_pairs) > 0, "the seeded corpus has no near-dup pairs")
        self.last_quality = 0.0

    def read_output(self, output: str | None = None) -> list:
        t = ds.dataset(os.path.join(output or self.output, "shards"),
                       format="parquet", partitioning="hive").to_table(columns=["doc_id"])
        return t.column("doc_id").to_pylist()

    def check(self, summary: dict, output: str | None = None) -> frozenset:
        ids = self.read_output(output)
        _check(len(ids) == summary["funnel"]["after_filters"],
               "shard rows != funnel after_filters")
        _check(len(set(ids)) == len(ids), "duplicate doc_id in the shards")
        kept = frozenset(ids)
        # near-dup recall: share of reference pairs that do not both survive
        gone = sum(1 for a, b in self.ref_pairs if not (a in kept and b in kept))
        self.last_quality = gone / len(self.ref_pairs)
        _check(self.last_quality >= 0.95, "near-dup recall < 0.95")
        return kept


WORKLOADS = {"er": ERWorkload, "corpus": CorpusWorkload}
