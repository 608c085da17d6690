"""The four workloads: how each stages its inputs from a seed, the public
library calls one run makes, and the check of a run's outputs against the
independent reference (reference.py).

Every run builds fresh DataFrames and writes into a fresh directory, so no
run reuses another's shuffle output, cache or index. Caches a run persists
are released only after the run's clock has stopped.
"""

from __future__ import annotations

import datetime
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import reference as ref

STATS_COLS = ["turn_idx", "role", "text", "tool", "ts"]


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def read_rows(path: Path, cols: list[str]) -> list[tuple]:
    """Rows of a Spark-written parquet directory in part-file order."""
    parts = sorted(p for p in path.iterdir() if p.name.startswith("part-"))
    out = []
    for p in parts:
        t = pq.read_table(p, columns=cols)
        out += list(zip(*[t.column(c).to_pylist() for c in cols]))
    return out


class Workload:
    name = ""
    spans: tuple[str, ...] = ()  # the spans (run.SPAN_WALL) a run opens

    def __init__(self, scale: float = 1.0):
        self.scale = scale

    def size(self) -> dict:
        raise NotImplementedError

    def key(self, seed: int) -> str:
        return f"{self.name}-s{seed}-" + "-".join(f"{k}{v}" for k, v in sorted(self.size().items()))

    def stage(self, spark, d: Path, seed: int) -> None:
        """Write the inputs for ``seed`` into ``d``."""
        raise NotImplementedError

    def reference(self, d: Path) -> dict:
        raise NotImplementedError

    def check_stage(self, d: Path) -> None:
        _expect((d / "_SUCCESS").exists() and (d / "reference.json").exists(), f"staged input missing at {d}")

    def register(self, spark, d: Path) -> None:
        """Catalog registration a fresh session needs before a run."""

    def prepare(self, d: Path, run_dir: Path) -> None:
        """Untimed per-run set-up of ``run_dir``."""
        run_dir.mkdir(parents=True)

    def run(self, spark, d: Path, run_dir: Path, sp) -> object:
        raise NotImplementedError

    def check(self, d: Path, run_dir: Path, result, r: dict, sp) -> None:
        raise NotImplementedError

    def rows(self, r: dict) -> int:
        """Input rows one run processes (turns, documents or vectors)."""
        raise NotImplementedError

    def cleanup(self, spark) -> None:
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# validation workloads
# ---------------------------------------------------------------------------


def _stage_transcripts(spark, d: Path, n_convs: int, seed: int) -> None:
    from tag_spark.generate import generate_transcripts

    generate_transcripts(spark, n_convs=n_convs, seed=seed).write.mode("overwrite").parquet(str(d / "transcripts"))


def _transcript_ref(d: Path) -> dict:
    from tag_spark.schema import DEFAULT_ROLES, DEFAULT_TOOLS

    return ref.transcript_reference(str(d / "transcripts"), DEFAULT_ROLES, DEFAULT_TOOLS)


def _check_validation(run_dir: Path, violations: list, bucket_rows: dict, sp, new_manifest_rows: int) -> None:
    got = read_rows(run_dir / "violations", ["check_id", "severity", "conv_id", "turn_idx"])
    want = [tuple(v[:4]) for v in violations]
    _expect(len(got) == len(want), f"violations: {len(got)} rows, reference {len(want)}")
    _expect(got == want, "violations differ from the DuckDB reference (rows or stable order)")
    verd = read_rows(run_dir / "verdicts", ["bucket_id", "check_id", "verdict", "rows_checked", "rows_violating"])
    _expect(verd == ref.expected_verdicts(violations, bucket_rows), "verdict matrix differs from the reference")
    man = read_rows(run_dir / "manifest", ["bucket_id", "status", "rows_checked", "violations_error", "violations_warn"])
    _expect(len(man) == new_manifest_rows, f"manifest: {len(man)} rows, expected {new_manifest_rows}")
    sp.count("suite.violation_rows", len(got))


class ValidateFull(Workload):
    """A fresh ``--stats`` validation, composed from the same public calls
    as ``run_validation.main`` with an ``--input`` table."""

    name = "validate_full"
    spans = ("reader.snapshot", "ordering.probe", "suite.violations", "write.violations", "suite.verdicts", "stats", "checkpoint.record")

    def size(self) -> dict:
        return {"convs": max(200, int(15_000 * self.scale))}

    def stage(self, spark, d, seed):
        _stage_transcripts(spark, d, self.size()["convs"], seed)

    def reference(self, d):
        return _transcript_ref(d)

    def rows(self, r):
        return r["turns"]

    def run(self, spark, d, run_dir, sp):
        from pyspark.sql import functions as F

        from tag_spark.generate import dim_role, dim_tool
        from tag_spark.operators.ordering import conv_size_histogram
        from tag_spark.operators.stats import collect_stats_arrow
        from tag_spark.operators.suite import ValidationSuite, default_transcript_suite
        from tag_spark.plans.checkpoint import CheckpointManifest
        from tag_spark.sources.reader import read_transcripts, table_snapshot

        path, out = str(d / "transcripts"), str(run_dir)
        df = read_transcripts(spark, path)
        with sp.span("reader.snapshot"):
            snapshot = table_snapshot(spark, path)
        suite = default_transcript_suite(dim_role(spark), dim_tool(spark))
        manifest = CheckpointManifest(spark, f"{out}/manifest", snapshot_id=snapshot)
        with sp.span("ordering.probe"):
            max_conv = conv_size_histogram(df).agg(F.max("max_turns")).first()[0] or 0
        # run_validation switches to the salted window above this size; the
        # staged tables stay far below it, so this run covers the standard path
        _expect(max_conv <= 200_000, f"largest conversation {max_conv} needs the salted path")
        with sp.span("suite.violations"):
            res = suite.run(df)
        with sp.span("write.violations"):
            ValidationSuite.stable_violations(res.violations).write.mode("overwrite").parquet(f"{out}/violations")
        with sp.span("suite.verdicts"):
            res.verdicts.orderBy("bucket_id", "check_id").write.mode("overwrite").parquet(f"{out}/verdicts")
        with sp.span("stats"):
            collect_stats_arrow(df, STATS_COLS).withColumn("run_scope", F.lit("full")).write.mode("overwrite").parquet(
                f"{out}/stats"
            )
        with sp.span("checkpoint.record"):
            manifest.record_run(res)

    def check(self, d, run_dir, result, r, sp):
        _check_validation(run_dir, r["violations"], r["bucket_rows"], sp, len(r["bucket_rows"]))
        stats = read_rows(run_dir / "stats", ["column", "count", "nulls"])
        for c in STATS_COLS:
            _expect(sum(n for col, n, _ in stats if col == c) == r["turns"], f"stats count of {c} != turns")
        _expect(sum(z for col, _, z in stats if col == "text") == r["null_text"], "stats null count of text")


class RevalidateBucketed(Workload):
    """A resume over the conv_id-bucketed, bucket-sorted catalog table:
    the manifest already holds every even logical bucket as done under the
    table's snapshot, so the run validates the odd half without an exchange."""

    name = "revalidate_bucketed"
    spans = ("reader.snapshot", "checkpoint.completed", "suite.violations", "write.violations", "suite.verdicts", "checkpoint.record")

    TABLE = "perfbench_transcripts_bucketed"

    def size(self) -> dict:
        return {"convs": max(200, int(15_000 * self.scale))}

    def stage(self, spark, d, seed):
        from tag_spark.plans.checkpoint import MANIFEST_SCHEMA
        from tag_spark.sources.reader import table_snapshot

        _stage_transcripts(spark, d, self.size()["convs"], seed)
        spark.sql(f"DROP TABLE IF EXISTS {self.TABLE}")
        (
            spark.read.parquet(str(d / "transcripts"))
            .repartition(64, "conv_id")
            .write.bucketBy(64, "conv_id")
            .sortBy("conv_id", "turn_idx")
            .option("path", str(d / "bucketed"))
            .mode("overwrite")
            .saveAsTable(self.TABLE)
        )
        snapshot = table_snapshot(spark, str(d / "bucketed"))
        t = datetime.datetime(2026, 1, 1)
        done = [("seed-run", b, "done", 0, 0, 0, snapshot, t) for b in range(0, ref.N_BUCKETS, 2)]
        spark.createDataFrame(done, MANIFEST_SCHEMA).coalesce(1).write.parquet(str(d / "manifest_template"))

    def reference(self, d):
        r = _transcript_ref(d)
        done = {b for (b,) in read_rows(d / "manifest_template", ["bucket_id"])}
        r["violations"] = [v for v in r["violations"] if v[4] not in done]
        r["bucket_rows"] = {b: n for b, n in r["bucket_rows"].items() if int(b) not in done}
        r["done_buckets"] = len(done)
        r["pending_turns"] = sum(r["bucket_rows"].values())
        return r

    def rows(self, r):
        return r["pending_turns"]

    def register(self, spark, d):
        spark.sql(f"DROP TABLE IF EXISTS {self.TABLE}")
        spark.sql(
            f"""CREATE TABLE {self.TABLE} (conv_id STRING, turn_idx INT, role STRING,
                text STRING, tool STRING, ts TIMESTAMP) USING parquet
                CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx) INTO 64 BUCKETS
                LOCATION '{d / "bucketed"}'"""
        )

    def prepare(self, d, run_dir):
        run_dir.mkdir(parents=True)
        shutil.copytree(d / "manifest_template", run_dir / "manifest")

    def run(self, spark, d, run_dir, sp):
        from pyspark.storagelevel import StorageLevel

        from tag_spark.generate import dim_role, dim_tool
        from tag_spark.operators.suite import ValidationSuite, default_transcript_suite
        from tag_spark.plans.checkpoint import CheckpointManifest
        from tag_spark.sources.reader import table_snapshot

        out = str(run_dir)
        df = spark.table(self.TABLE)
        with sp.span("reader.snapshot"):
            snapshot = table_snapshot(spark, str(d / "bucketed"))
        suite = default_transcript_suite(dim_role(spark), dim_tool(spark))
        with sp.span("checkpoint.completed"):
            manifest = CheckpointManifest(spark, f"{out}/manifest", snapshot_id=snapshot)
            done = manifest.completed_buckets(snapshot_id=snapshot)
            pending = manifest.filter_pending(df, bucket_fn=suite.bucket_fn, n_buckets=suite.n_buckets, snapshot_id=snapshot)
        _expect(len(done) == ref.N_BUCKETS // 2, f"resume saw {len(done)} completed buckets")
        with sp.span("suite.violations"):
            # persisted and materialized once, as ValidationSuite.run does,
            # so the two writes and the manifest reuse it
            viol = suite.violations(pending, shuffle_for_windows=False).persist(StorageLevel.MEMORY_AND_DISK)
            viol.count()
        with sp.span("write.violations"):
            ValidationSuite.stable_violations(viol).write.mode("append").parquet(f"{out}/violations")
        with sp.span("suite.verdicts"):
            res = suite.assemble(pending, viol)
            res.verdicts.orderBy("bucket_id", "check_id").write.mode("append").parquet(f"{out}/verdicts")
        with sp.span("checkpoint.record"):
            manifest.record_run(res)

    def check(self, d, run_dir, result, r, sp):
        _check_validation(run_dir, r["violations"], r["bucket_rows"], sp, r["done_buckets"] + len(r["bucket_rows"]))
        sp.count("checkpoint.pending_rows", r["pending_turns"])


# ---------------------------------------------------------------------------
# near-duplicate corpus
# ---------------------------------------------------------------------------


def near_dup_corpus(seed: int, n_base: int, copies: int, edit_rate: float, vocab: int = 4000) -> list[tuple[int, str]]:
    """Families of one base document (40-68 words from a random vocabulary)
    and ``copies`` near copies, each word of a copy replaced with
    probability ``edit_rate``; the first copy of every fifth family is
    exact. Document ids are shuffled across families."""
    rng = np.random.default_rng(seed)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = sorted({"".join(rng.choice(letters, size=rng.integers(3, 9))) for _ in range(vocab * 2)})
    words = np.array(words[:vocab])
    texts = []
    for f in range(n_base):
        base = rng.integers(0, len(words), size=rng.integers(40, 69))
        texts.append(base)
        for c in range(copies):
            cp = base.copy()
            if not (c == 0 and f % 5 == 0):
                edit = rng.random(len(cp)) < edit_rate
                cp[edit] = rng.integers(0, len(words), size=int(edit.sum()))
            texts.append(cp)
    ids = rng.permutation(len(texts))
    return sorted((int(i), " ".join(words[t])) for i, t in zip(ids, texts))


class DedupCorpus(Workload):
    """Exact Jaccard pairs -> clusters, plus MinHash-LSH and SimHash pairs,
    over a seeded near-duplicate corpus."""

    name = "dedup_corpus"
    spans = ("dedup.jaccard_pairs", "dedup.clusters", "dedup.minhash_pairs", "dedup.simhash_pairs")

    K, THRESHOLD, MAX_FREQ = 3, 0.3, 1000

    def size(self) -> dict:
        return {"base": max(50, int(1_500 * self.scale)), "copies": 3, "edit7": 1}

    def _docs(self, seed):
        s = self.size()
        return near_dup_corpus(seed, s["base"], s["copies"], s["edit7"] / 7)

    def stage(self, spark, d, seed):
        docs = self._docs(seed)
        d.joinpath("docs").mkdir()
        tbl = pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()), "text": [t for _, t in docs]})
        pq.write_table(tbl, d / "docs" / "part-00000.parquet")

    def reference(self, d):
        t = pq.read_table(d / "docs" / "part-00000.parquet")
        docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        pairs = ref.jaccard_pairs(docs, self.K, self.THRESHOLD, self.MAX_FREQ)
        clusters = ref.union_find_clusters([i for i, _ in docs], pairs)
        by_text: dict = {}
        for i, txt in docs:
            by_text.setdefault(txt, []).append(i)
        exact = sorted((a, b) for ids in by_text.values() for a in ids for b in ids if a < b)
        return {
            "docs": len(docs),
            "pairs": sorted([a, b, j] for (a, b), j in pairs.items()),
            "clusters": sorted([i, c, n] for i, (c, n) in clusters.items()),
            "exact_pairs": exact,
        }

    def rows(self, r):
        return r["docs"]

    def run(self, spark, d, run_dir, sp):
        from tag_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters, ngram_jaccard_pairs, simhash_pairs

        out = str(run_dir)
        docs = spark.read.parquet(str(d / "docs"))
        with sp.span("dedup.jaccard_pairs"):
            ngram_jaccard_pairs(docs, k=self.K, threshold=self.THRESHOLD, max_shingle_freq=self.MAX_FREQ).write.parquet(
                f"{out}/pairs"
            )
        with sp.span("dedup.clusters"):
            neardup_clusters(docs, spark.read.parquet(f"{out}/pairs")).write.parquet(f"{out}/clusters")
        with sp.span("dedup.minhash_pairs"):
            minhash_lsh_pairs(docs, k=self.K, threshold=self.THRESHOLD).write.parquet(f"{out}/minhash")
        with sp.span("dedup.simhash_pairs"):
            simhash_pairs(docs).write.parquet(f"{out}/simhash")

    def check(self, d, run_dir, result, r, sp):
        want = {(a, b): j for a, b, j in r["pairs"]}
        got = read_rows(run_dir / "pairs", ["id_a", "id_b", "jaccard"])
        _expect(len(got) == len(want) and {(a, b) for a, b, _ in got} == set(want), "jaccard pairs differ from the reference")
        _expect(all(abs(j - want[(a, b)]) <= 1e-9 for a, b, j in got), "jaccard values differ from the reference")
        clusters = sorted(list(x) for x in read_rows(run_dir / "clusters", ["doc_id", "cluster_id", "cluster_size"]))
        _expect(clusters == r["clusters"], "clusters differ from the union-find reference")
        mh = read_rows(run_dir / "minhash", ["id_a", "id_b", "jaccard"])
        _expect(len({(a, b) for a, b, _ in mh}) == len(mh), "minhash pairs repeat")
        _expect(all((a, b) in want and abs(j - want[(a, b)]) <= 1e-9 for a, b, j in mh), "minhash pair not in the reference")
        sh = read_rows(run_dir / "simhash", ["id_a", "id_b", "hamming"])
        _expect(all(a < b and 0 <= h <= 3 for a, b, h in sh) and len({(a, b) for a, b, _ in sh}) == len(sh), "simhash pairs malformed")
        zero = {(a, b) for a, b, h in sh if h == 0}
        _expect(all((a, b) in zero for a, b in r["exact_pairs"]), "simhash missed an exact duplicate")
        sp.count("dedup.pairs", len(got))


# ---------------------------------------------------------------------------
# ANN batch
# ---------------------------------------------------------------------------


class AnnBatch(Workload):
    """Exact batched top-k, then LSH and IVF index build + batched query,
    over a seeded clustered corpus."""

    name = "ann_batch"
    spans = ("similarity.exact_batch", "similarity.lsh_build", "similarity.lsh_query", "similarity.ivf_build", "similarity.ivf_query")

    DIM, K, QUERIES, CENTERS, N_CELLS, NPROBE = 64, 10, 67, 32, 64, 4

    def size(self) -> dict:
        return {"vectors": max(500, int(20_000 * self.scale))}

    def stage(self, spark, d, seed):
        rng = np.random.default_rng(seed)
        centers = rng.normal(size=(self.CENTERS, self.DIM))
        n = self.size()["vectors"]
        X = centers[rng.integers(0, self.CENTERS, n)] + 0.6 * rng.normal(size=(n, self.DIM))
        Q = centers[rng.integers(0, self.CENTERS, self.QUERIES)] + 0.6 * rng.normal(size=(self.QUERIES, self.DIM))
        for name, ids, M, idc in (("corpus", np.arange(n), X, "vec_id"), ("queries", np.arange(self.QUERIES), Q, "query_id")):
            d.joinpath(name).mkdir()
            emb = pa.array(list(M), type=pa.list_(pa.float64()))
            pq.write_table(pa.table({idc: pa.array(ids, pa.int64()), "embedding": emb}), d / name / "part-00000.parquet")
            np.save(d / f"{name}.npy", M)

    def reference(self, d):
        X, Q = np.load(d / "corpus.npy"), np.load(d / "queries.npy")
        return {"vectors": int(X.shape[0]), "topk": ref.exact_topk(Q, X, self.K).tolist()}

    def rows(self, r):
        return r["vectors"]

    def run(self, spark, d, run_dir, sp):
        from tag_spark.operators.similarity import IvfIndex, LshAnnIndex, cosine_topk_batch

        corpus = spark.read.parquet(str(d / "corpus"))
        queries = spark.read.parquet(str(d / "queries"))
        with sp.span("similarity.exact_batch"):
            exact = cosine_topk_batch(corpus, queries, k=self.K).collect()
        with sp.span("similarity.lsh_build"):
            lsh = LshAnnIndex(corpus, dim=self.DIM)
            # the index persists lazily: force both cached tables here so
            # the build is not billed to the first query
            lsh.indexed.count()
            lsh.pairs.count()
        with sp.span("similarity.lsh_query"):
            lsh_rows = lsh.topk_batch(queries, k=self.K).collect()
        with sp.span("similarity.ivf_build"):
            # a fresh path per run: an existing index with a matching
            # fingerprint would be reused instead of built
            ivf = IvfIndex(corpus, n_cells=self.N_CELLS, path=str(run_dir / "ivf"))
        with sp.span("similarity.ivf_query"):
            ivf_rows = ivf.topk_batch(queries, k=self.K, nprobe=self.NPROBE).collect()
        return {
            "exact": [(r["query_id"], r["vec_id"], r["cos_sim"]) for r in exact],
            "lsh": [(r["query_id"], r["vec_id"], r["cos_sim"]) for r in lsh_rows],
            "ivf": [(r["query_id"], r["vec_id"], r["cos_sim"]) for r in ivf_rows],
        }

    def check(self, d, run_dir, result, r, sp):
        X, Q = np.load(d / "corpus.npy"), np.load(d / "queries.npy")
        cos = ref.cosine_matrix(Q, X)
        truth = r["topk"]
        for kind, rows in result.items():
            per: dict = {}
            for q, v, c in rows:
                _expect(abs(c - cos[q, v]) <= 1e-6, f"{kind}: cos_sim of ({q}, {v}) is {c}, numpy {cos[q, v]}")
                per.setdefault(q, set()).add(v)
            _expect(sum(len(s) for s in per.values()) == len(rows), f"{kind}: a query repeats an id")
            _expect(all(len(s) <= self.K for s in per.values()), f"{kind}: more than k rows for a query")
            if kind == "exact":
                for q in range(len(truth)):
                    kth = cos[q, truth[q][-1]]
                    _expect(len(per.get(q, ())) == self.K, f"exact: query {q} has {len(per.get(q, ()))} rows")
                    _expect(min(cos[q, v] for v in per[q]) >= kth - 2e-6, f"exact: query {q} missed a better row")
            else:
                recall = sum(len(per.get(q, set()) & set(truth[q])) for q in range(len(truth))) / (len(truth) * self.K)
                sp.count(f"similarity.{kind}_recall_at10", recall)


WORKLOADS = {w.name: w for w in (ValidateFull, RevalidateBucketed, DedupCorpus, AnnBatch)}


def load_reference(d: Path) -> dict:
    with open(d / "reference.json", encoding="utf-8") as f:
        return json.load(f)
