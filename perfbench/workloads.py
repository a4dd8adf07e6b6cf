"""The three benchmark workloads.

Each is a closed loop with one client: a single thread issues one
operation, waits for its result, checks it, then issues the next.

- ``vector_search``: one operation searches one batch of queries twice,
  exactly (``topk_multi`` two-phase, then ``exact_rescore``) and with the
  IVF index (``ivf_search``) on its persisted layout.
- ``corpus_pipeline``: one operation is a cold pass: ``release_caches``,
  ``corpus_clean``, ``release_caches``, ``pipeline_chunks_embed``.
- ``registry_cold``: one operation is a cold pass over the 14 headline
  entries of ``bench.py``, each preceded by ``release_caches``, in an
  order permuted by the seed.

Every timed action is ``materialize``: a row count plus two
order-independent hashes over all output columns. A bare ``count()``
lets Catalyst prune unused columns; on ``pipeline_chunks_embed`` it drops
the ``hash_embed`` projection altogether, so nothing would be measured.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen

# vector_search sizes
VS_N, VS_DIM, VS_Q, VS_K = 100_000, 64, 20, 10
VS_NLIST, VS_NPROBE = 64, 8
VS_BATCHES = 2  # query batches, each checked in full once, then cycled
VS_FILES = 4  # base table part files
# corpus_pipeline sizes
CP_DOCS, CP_ORACLE_DOCS = 5_000, 500
CP_WARMUP_PASSES = 3
IVF_SCORE_TOL = 1e-9
RESULT_SCHEMA = "query_id long, vec_id long, score double, rank int"


def materialize(df) -> tuple:
    """(rows, xor of row hashes, sum of low 32 hash bits): one action
    that reads every output column. The 32-bit sum cannot overflow under
    ANSI arithmetic and, unlike the xor, does not cancel duplicate rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("s"),
    ).first()
    return (int(r["n"]), r["x"], r["s"])


def median_part(ops: list, key: str) -> float:
    return statistics.median(op.parts[key] for op in ops)


@dataclass
class Op:
    wall_s: float
    ok: bool
    parts: dict[str, float] = field(default_factory=dict)
    result_rows: tuple = ()


@dataclass
class Ctx:
    spark: object
    seed: int
    work: str
    # span name -> context manager; Tracer.span in traced operations
    span: object = lambda name: contextlib.nullcontext()
    report: dict = field(default_factory=dict)
    setup_failures: list[str] = field(default_factory=list)


# ==========================================================================
# vector_search
# ==========================================================================


def _seq_dot(base64: np.ndarray, q64: np.ndarray) -> np.ndarray:
    """Dot products summed left to right in float64, the order of the
    engine's sequential fold (functions/vector.py dot_expr)."""
    acc = np.zeros(base64.shape[0])
    for d in range(base64.shape[1]):
        acc = acc + base64[:, d] * q64[d]
    return acc


def exact_topk_np(base: np.ndarray, q: np.ndarray, k: int) -> list[list[tuple]]:
    """NumPy brute force: per query the k best (vec_id, score) by score
    descending then vec_id ascending, scores from the sequential fold."""
    coarse = base.astype(np.float64) @ q.astype(np.float64).T
    out = []
    for j in range(q.shape[0]):
        cand = np.argpartition(-coarse[:, j], 4 * k)[: 4 * k]
        s = _seq_dot(base[cand].astype(np.float64), q[j].astype(np.float64))
        order = np.lexsort((cand, -s))[:k]
        out.append([(int(cand[i]), float(s[i])) for i in order])
    return out


class VectorSearch:
    name = "vector_search"
    patches = (
        ("nano_vectordb_spark.operators.ivf", "ivf_build", "operators.ivf.ivf_build"),
        ("nano_vectordb_spark.operators.ivf", "ivf_write", "operators.ivf.ivf_write"),
        ("nano_vectordb_spark.functions.kmeans", "collect_train_sample", "functions.kmeans.collect_train_sample"),
        ("nano_vectordb_spark.functions.kmeans", "lloyd_fit", "functions.kmeans.lloyd_fit"),
    )

    def setup(self, ctx: Ctx) -> None:
        from nano_vectordb_spark.operators import ivf

        spark = ctx.spark
        base, labels, batches = gen.vector_inputs(ctx.seed, VS_N, VS_DIM, VS_Q, VS_BATCHES)
        root = os.path.join(ctx.work, "vectors")
        gen.write_table(gen.embeddings_table(base, labels), f"{root}/base.parquet", files=VS_FILES)
        for i, q in enumerate(batches):
            gen.write_table(gen.queries_table(q), f"{root}/queries_{i}.parquet")
        self.base = spark.read.parquet(f"{root}/base.parquet")
        self.qdf = [spark.read.parquet(f"{root}/queries_{i}.parquet") for i in range(VS_BATCHES)]
        t0 = time.perf_counter()
        index = ivf.ivf_build(self.base, VS_NLIST, seed=ctx.seed)
        ivf.ivf_write(index, f"{root}/ivf")
        ctx.report["index_build_s"] = time.perf_counter() - t0
        self.index = ivf.ivf_read(spark, f"{root}/ivf", VS_NLIST)
        # warm-up: every batch once, checked in full; its hashes are the
        # reference every timed operation on that batch must reproduce
        self.expect: list[tuple] = []
        recalls = []
        for i in range(VS_BATCHES):
            h_exact, rows = self._search(ctx, i, collect_ivf=True)[1]
            gt = exact_topk_np(base, batches[i], VS_K)
            want = [(q, vid, s, r + 1) for q, row in enumerate(gt) for r, (vid, s) in enumerate(row)]
            if materialize(spark.createDataFrame(want, RESULT_SCHEMA)) != h_exact:
                ctx.setup_failures.append(f"exact batch {i}: ids/scores differ from NumPy brute force")
            q64 = batches[i].astype(np.float64)
            for r in rows:
                exact = _seq_dot(base[[r.vec_id]].astype(np.float64), q64[r.query_id])[0]
                if abs(r.score - exact) > IVF_SCORE_TOL:
                    ctx.setup_failures.append(f"ivf batch {i}: score of {r.vec_id} off by {r.score - exact:g}")
                    break
            for qid, row in enumerate(gt):
                got = {r.vec_id for r in rows if r.query_id == qid}
                recalls.append(len(got & {vid for vid, _ in row}) / VS_K)
            h_ivf = materialize(spark.createDataFrame([tuple(r) for r in rows], RESULT_SCHEMA))
            self.expect.append((h_exact, h_ivf))
        ctx.report["recall_at_10"] = float(np.mean(recalls))

    def _search(self, ctx: Ctx, i: int, collect_ivf: bool = False) -> tuple[Op, tuple]:
        """Exact then IVF search of batch ``i``; returns the operation and
        its (exact, IVF) result hashes, or with ``collect_ivf`` the IVF
        rows themselves (the warm-up checks them one by one)."""
        from nano_vectordb_spark.operators import ivf, topk

        q = self.qdf[i % VS_BATCHES]
        t0 = time.perf_counter()
        with ctx.span("operators.topk.topk_multi"):
            exact_df = topk.exact_rescore(self.base, q, topk.topk_multi(self.base, q, VS_K))
            h_exact = materialize(exact_df)
        t1 = time.perf_counter()
        with ctx.span("operators.ivf.ivf_search"):
            ivf_df = ivf.ivf_search(self.index, q, VS_K, nprobe=VS_NPROBE)
            h_ivf = ivf_df.collect() if collect_ivf else materialize(ivf_df)
        t2 = time.perf_counter()
        op = Op(t2 - t0, True, {"exact_s": t1 - t0, "ivf_s": t2 - t1})
        op.result_rows = (h_exact[0], len(h_ivf) if collect_ivf else h_ivf[0])
        return op, (h_exact, h_ivf)

    def op(self, ctx: Ctx, i: int) -> Op:
        op, hashes = self._search(ctx, i)
        op.ok = hashes == self.expect[i % VS_BATCHES]
        return op

    def figures(self, ops: list[Op], report: dict) -> list[tuple]:
        """(name, value, unit, samples) for the human-readable report."""
        return [
            ("exact_batch_p50_s", median_part(ops, "exact_s"), "s", len(ops)),
            ("ivf_batch_p50_s", median_part(ops, "ivf_s"), "s", len(ops)),
            ("index_build_s", report["index_build_s"], "s", 1),
            ("recall_at_10", report["recall_at_10"], "ratio", VS_BATCHES * VS_Q),
        ]

    def ratios(self, op: Op, execs) -> dict[str, float]:
        from spans import rows_out

        n_exact, n_ivf = op.result_rows
        return {
            "operators.ivf.ivf_search.rows_scanned_per_result":
                sum(rows_out(execs, "operators.ivf.ivf_search", "Scan parquet")) / max(n_ivf, 1),
            "operators.ivf.ivf_search.clusters_probed_frac": self.probed_frac(execs),
            "operators.topk.topk_multi.rows_scanned_per_result":
                sum(rows_out(execs, "operators.topk.topk_multi", "Scan parquet")) / max(n_exact, 1),
        }

    @staticmethod
    def probed_frac(execs) -> float:
        """Cluster partitions read by the pruned IVF scan, over nlist.
        The exact rescore joins back to the unpruned layout, so the
        pruned scan is the one that read the fewest partitions."""
        read = [
            ms["number of partitions read"]
            for spans, nodes in execs
            if "operators.ivf.ivf_search" in spans
            for name, _desc, ms in nodes
            if name.startswith("Scan parquet") and ms.get("number of partitions read")
        ]
        return min(read, default=0.0) / VS_NLIST


# ==========================================================================
# corpus_pipeline and registry_cold share the cold registry operation
# ==========================================================================


def cold_entry(ctx: Ctx, name: str, sf_dir: str) -> tuple[tuple, float, float, object]:
    """One cold invocation: release every registry cache, build the plan
    (``fn()``, including any eager jobs), then materialize it."""
    from nano_vectordb_spark import registry

    with ctx.span("registry.release_caches"):
        registry.release_caches()
    t0 = time.perf_counter()
    with ctx.span("registry.build"):
        df = registry.REGISTRY[name].fn(ctx.spark, sf_dir)
    t1 = time.perf_counter()
    with ctx.span("registry.exec"):
        h = materialize(df)
    return h, t1 - t0, time.perf_counter() - t1, df


def oracle_check(ctx: Ctx, con, name: str, df) -> None:
    """Rows of ``df`` against the entry's DuckDB oracle, compared the way
    tests/oracle_harness.py does."""
    from nano_vectordb_spark import registry
    from oracle_harness import compare

    sql = registry.resolve_oracle(registry.REGISTRY[name])
    if sql is None:
        ctx.setup_failures.append(f"{name}: no oracle registered")
        return
    ok, msg = compare(df, con, sql)
    if not ok:
        ctx.setup_failures.append(f"{name}: {msg.splitlines()[0]}")


def duck_views(fixture: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(fixture)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{fixture}/{f}')"
            )
    return con


def pass_ratios(execs) -> dict[str, float]:
    """MinHash verified pairs over candidate pairs, from the plan nodes
    of every execution that ran the exact-Jaccard verify."""
    from spans import rows_out

    verified = candidates = 0.0
    for ex in execs:
        v = rows_out([ex], "", "", r"array_intersect\(sa")
        if v:
            verified += max(v)
            candidates += max(
                rows_out([ex], "", "InMemoryTableScan", r"^InMemoryTableScan \[a_id#\d+L?, b_id#\d+L?\]"),
                default=0.0,
            )
    return {
        "operators.dedup.minhash_lsh_pairs.verified_per_candidate":
            verified / candidates if candidates else 0.0
    }


def pass_figures(ops: list[Op]) -> list[tuple]:
    return [
        ("build_p50_s", median_part(ops, "build_s"), "s", len(ops)),
        ("exec_p50_s", median_part(ops, "exec_s"), "s", len(ops)),
    ]


class CorpusPipeline:
    name = "corpus_pipeline"
    entries = ("corpus_clean", "pipeline_chunks_embed")
    patches = (
        ("nano_vectordb_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
        ("nano_vectordb_spark.functions.text", "scored_docs", "functions.text.scored_docs"),
    )

    def setup(self, ctx: Ctx) -> None:
        small = os.path.join(ctx.work, "corpus_oracle")
        self.dir = os.path.join(ctx.work, "corpus")
        os.makedirs(small)
        os.makedirs(self.dir)
        gen.write_table(gen.documents_table(ctx.seed, CP_ORACLE_DOCS), f"{small}/documents.parquet")
        gen.write_table(gen.documents_table(ctx.seed, CP_DOCS), f"{self.dir}/documents.parquet")
        # correctness: the same generator at oracle scale, against DuckDB
        con = duck_views(small)
        for name in self.entries:
            _, _, _, df = cold_entry(ctx, name, small)
            oracle_check(ctx, con, name, df)
        con.close()
        # warm-up passes at full scale, the last plan shapes the JIT sees
        # before timing; their hashes are what every timed pass reproduces
        for _ in range(CP_WARMUP_PASSES):
            self.expect = [cold_entry(ctx, n, self.dir)[0] for n in self.entries]

    def op(self, ctx: Ctx, i: int) -> Op:
        t0 = time.perf_counter()
        build = execute = 0.0
        hashes = []
        for name in self.entries:
            h, b, e, _ = cold_entry(ctx, name, self.dir)
            hashes.append(h)
            build, execute = build + b, execute + e
        return Op(time.perf_counter() - t0, hashes == self.expect, {"build_s": build, "exec_s": execute})

    def figures(self, ops: list[Op], report: dict) -> list[tuple]:
        docs_per_s = CP_DOCS / statistics.median(op.wall_s for op in ops)
        return [("docs_per_s", docs_per_s, "1/s", len(ops))] + pass_figures(ops)

    def ratios(self, op: Op, execs) -> dict[str, float]:
        return pass_ratios(execs)


class RegistryCold:
    name = "registry_cold"
    patches = CorpusPipeline.patches + VectorSearch.patches + (
        ("nano_vectordb_spark.operators.ivf", "ivf_search", "operators.ivf.ivf_search"),
        ("nano_vectordb_spark.operators.topk", "topk_multi", "operators.topk.topk_multi"),
    )

    def setup(self, ctx: Ctx) -> None:
        import bench

        self.dir = os.environ["SPARK_GRAFT_ORACLE_SF"]
        gen.write_registry_fixture(self.dir, ctx.seed)
        order = np.random.default_rng([ctx.seed, 14]).permutation(len(bench.BENCH_QUERIES))
        self.entries = [bench.BENCH_QUERIES[i] for i in order]
        ctx.report["entry_order"] = self.entries
        con = duck_views(self.dir)
        self.expect = []
        # warm-up pass, checked against every entry's oracle once
        for name in self.entries:
            h, _, _, df = cold_entry(ctx, name, self.dir)
            oracle_check(ctx, con, name, df)
            self.expect.append(h)
        con.close()

    def op(self, ctx: Ctx, i: int) -> Op:
        t0 = time.perf_counter()
        build = execute = 0.0
        ok = True
        for name, want in zip(self.entries, self.expect):
            h, b, e, _ = cold_entry(ctx, name, self.dir)
            ok &= h == want
            build, execute = build + b, execute + e
        return Op(time.perf_counter() - t0, ok, {"build_s": build, "exec_s": execute})

    def figures(self, ops: list[Op], report: dict) -> list[tuple]:
        cold_pass_s = statistics.median(op.wall_s for op in ops)
        return [("cold_pass_s", cold_pass_s, "s", len(ops))] + pass_figures(ops)

    def ratios(self, op: Op, execs) -> dict[str, float]:
        return pass_ratios(execs)


WORKLOADS = {w.name: w for w in (VectorSearch, CorpusPipeline, RegistryCold)}
