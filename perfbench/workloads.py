"""The three benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

- ``prepare()``      benchmark-side input generation (not timed);
- ``setup(spark)``   the engine's set-up before the first timed call:
                     data staging, index build, warm-up (timed into
                     ``setup_s``, after the session starts);
- ``check_setup()``  output checks on the set-up's results (not timed);
- ``before_op(kind)`` untimed input generation and snapshots before
                     an operation;
- ``op(kind)``       one timed closed-loop operation, for each kind of
                     ``cycle`` in turn; returns the number of items it
                     processed;
- ``after_op(kind)`` untimed checks and accounting after it;
- ``finish()``       output checks after the timed window (not timed).

Output checks append ``(name, ok, detail)`` to ``self.checks``; a failed
check makes the run incorrect, an exception inside ``op()`` makes the
operation failed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

from automate_data_ingestion_project_spark import models, pipeline, quality
from automate_data_ingestion_project_spark.analytics import QUERIES
from automate_data_ingestion_project_spark.analytics.dv3f import METRICS
from automate_data_ingestion_project_spark.ingest.rest import RestResponse
from automate_data_ingestion_project_spark.operators.caching import release_caches
from automate_data_ingestion_project_spark.schemas import schemas_from_yaml
from automate_data_ingestion_project_spark.textops import similarity
from automate_data_ingestion_project_spark.textops.neardup_index import NearDupIndex

import automate_data_ingestion_project_spark.analytics.core  # noqa: F401  (registers queries)
import automate_data_ingestion_project_spark.analytics.ivf  # noqa: F401
import automate_data_ingestion_project_spark.analytics.similarity  # noqa: F401
import automate_data_ingestion_project_spark.analytics.warehouse  # noqa: F401

from gen import PROPERTY_CODES, QUERY_SET, Dv3fApi, DocStream, fixture_tables

PACKAGE_DIR = os.path.dirname(os.path.abspath(pipeline.__file__))


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of every regular file under ``path``."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def tree_state(path: str) -> dict[str, tuple[int, int, int]]:
    """File path -> (inode, mtime, size) of every regular file under ``path``."""
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            st = os.stat(os.path.join(dp, f))
            out[os.path.join(dp, f)] = (st.st_ino, st.st_mtime_ns, st.st_size)
    return out


def rows_digest(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive value hash) with columns sorted by
    name and doubles rounded to 9 decimals."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(v):
        if isinstance(v, float):
            return "NaN" if v != v else round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        return v

    keyed = sorted(repr(tuple(norm(r[i]) for i in order)) for r in rows)
    return len(keyed), hashlib.sha256("\n".join(keyed).encode()).hexdigest()


@dataclass
class Context:
    seed: int
    work: str
    tracer: object


class Workload:
    name = ""
    why = ""
    item = ""
    cycle: list[str] = []  # the kinds of operation, in the order they run
    main_kinds: set[str] | None = None  # kinds op_p50_s and items_per_s cover (None: all)

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.checks: list[tuple[str, bool, str]] = []
        self.extras: dict[str, float] = {}

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def span(self, name: str):
        return self.tracer.span(name)

    def prepare(self) -> None:
        pass

    def check_setup(self) -> None:
        pass

    def before_op(self, kind: str) -> None:
        pass

    def after_op(self, kind: str) -> None:
        pass

    def finish(self) -> None:
        pass

    def named(self, e2e: dict, by_kind: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
        """This workload's end-to-end metrics under their descriptive names."""
        return {}


# ---------------------------------------------------------------------------


class IngestRefresh(Workload):
    name = "ingest_refresh"
    why = ("the write path: driver-side REST fetch, reshape plan, full-snapshot "
           "upsert rewrite, quality checks; analytics and text layers stay idle")
    item = "rows"

    def prepare(self) -> None:
        with open(os.path.join(PACKAGE_DIR, "configs", "dv3f_schema.yaml")) as fh:
            tables = schemas_from_yaml(fh.read())
        self.schemas = {"departement": tables["src_departement"], "region": tables["src_region"]}
        self.columns = {s: [c.name for c in t.columns] for s, t in self.schemas.items()}

    def setup(self, spark) -> None:
        """Initial load of the whole work-list into an empty warehouse."""
        self.spark = spark
        root = os.path.join(self.ctx.work, "warehouse")
        self.paths = {s: os.path.join(root, f"src_{s}") for s in self.schemas}
        self.api = Dv3fApi(self.ctx.seed, METRICS, RestResponse)
        self.model = {s: {} for s in self.schemas}
        self.checks_by_scope = {s: quality.checks_from_schema(t) for s, t in self.schemas.items()}
        self.failing_seen = self.violations = self.failed_tests = self.code_mismatches = 0
        self._round()

    def _round(self) -> int:
        """One refresh round of the engine: the pipeline over the work-list,
        then the quality checks and dbt-style tests of both tables."""
        api = self.api
        self.reports = pipeline.run_pipeline(
            self.spark, api.config(), self.paths, METRICS, fetch=api, schemas=self.schemas
        )
        built = {}
        for scope, path in self.paths.items():
            df = self.spark.read.parquet(path)
            built[f"src_{scope}"] = df
            with self.span("quality.violation_counts"):
                bad = [r for r in quality.violation_counts(df, self.checks_by_scope[scope]).collect()
                       if r.violations]
            self.violations += sum(r.violations for r in bad)
        uid_tests = {"uid": ["unique", "not_null"]}
        with self.span("models.test_models"):
            results = models.test_models(
                self.spark, [models.Model(n, lambda s, n=n: built[n], tests=uid_tests) for n in built],
                built)
        self.failed_tests += sum(1 for r in results if not r.passed)
        return sum(len(api.codes[rep.scope]) for rep in self.reports) * len(api.years) * len(PROPERTY_CODES)

    def _account(self) -> None:
        """Untimed: check the round's scope reports, apply the payloads it
        served to the last-writer-wins model, and count what the round
        wrote: files new or changed since ``self.tree`` was taken, their
        bytes, and the rows in the new data files."""
        api = self.api
        changed = changed_bytes = 0
        for rep in self.reports:
            want_ok = api.codes[rep.scope]
            want_failed = {api.failing_code} if rep.scope == "departement" else set()
            if rep.codes_ok != want_ok or set(rep.codes_failed) != want_failed:
                self.code_mismatches += 1
            if "500" in rep.codes_failed.get(api.failing_code, ""):
                self.failing_seen += 1
            model = self.model[rep.scope]
            for r in api.expected_rows(rep.scope):
                if model.get(r[0]) != r:
                    changed += 1
                    changed_bytes += len(",".join(map(str, r)))
                model[r[0]] = r
        written = [(p, st) for t in self.paths.values() for p, st in tree_state(t).items()
                   if self.tree.get(p) != st]
        data = [p for p, _ in written
                if p.endswith(".parquet") and not os.path.basename(p).startswith((".", "_"))]
        self._add("rounds", 1)
        self._add("rows_written", sum(pq.read_metadata(p).num_rows for p in data))
        self._add("rows_changed", changed)
        self._add("bytes_written", sum(st[2] for _, st in written))
        self._add("user_bytes_changed", changed_bytes)
        self._add("files_written", len(written))

    def _add(self, key: str, v: float) -> None:
        self.extras[key] = self.extras.get(key, 0) + v

    def check_setup(self) -> None:
        self.tree = {}
        self._account()
        self.extras.clear()
        self.failing_seen = 0

    # A replay round finds nothing changed upstream and must leave the
    # warehouse as it was; a refresh round changes values and adds a year.
    cycle = ["replay", "refresh"]

    def before_op(self, kind: str) -> None:
        self.tree = {p: st for t in self.paths.values() for p, st in tree_state(t).items()}
        if kind == "replay":
            self.before = self._digests()

    def op(self, kind: str) -> int:
        if kind == "refresh":
            self.api.advance()
        return self._round()

    def after_op(self, kind: str) -> None:
        self._account()
        if kind == "replay":
            after = self._digests()
            for scope in self.paths:
                self.check(f"{scope}.replay_is_noop", after[scope] == self.before[scope],
                           f"rows {self.before[scope][0]} -> {after[scope][0]}")

    def _rows(self, scope: str) -> list[tuple]:
        cols = self.columns[scope]
        return [tuple(r) for r in self.spark.read.parquet(self.paths[scope]).select(*cols).collect()]

    def _digests(self) -> dict:
        return {s: rows_digest(self._rows(s), self.columns[s]) for s in self.paths}

    def finish(self) -> None:
        matched = total = 0
        for scope in self.paths:
            rows = self._rows(scope)
            digest = rows_digest(rows, self.columns[scope])
            model = list(self.model[scope].values())
            want = rows_digest(model, self.columns[scope])
            self.check(f"{scope}.equals_lww_model", digest == want,
                       f"table rows={digest[0]} hash={digest[1][:12]} model rows={want[0]} hash={want[1][:12]}")
            have = set(rows)
            matched += sum(1 for r in model if r in have)
            total += len(model)
        # share of the upstream rows (last writer wins) the warehouse holds
        self.recall = matched / total
        rounds = self.extras.get("rounds", 0)
        self.check("failing_code_in_codes_failed", self.failing_seen == rounds,
                   f"code {self.api.failing_code}: HTTP 500 reported in {self.failing_seen}/{rounds} rounds")
        self.check("codes_ok_and_failed_as_expected", self.code_mismatches == 0,
                   f"{self.code_mismatches} scope reports differ")
        self.check("quality_violations_zero", self.violations == 0, f"{self.violations} violations")
        self.check("dbt_tests_pass", self.failed_tests == 0, f"{self.failed_tests} failed tests")

    def named(self, e2e, by_kind):
        return {"ingest_round_p50_s": (e2e["op_p50_s"], "s"),
                "ingest_rows_per_s": (e2e["items_per_s"], "1/s"),
                "warehouse_rows_matching_model": (e2e["quality_recall"], "ratio")}

    def storage(self) -> float:
        stored = sum(dir_stats(p)[1] for p in self.paths.values())
        user = sum(len(",".join(map(str, r))) for m in self.model.values() for r in m.values())
        return stored / user


# ---------------------------------------------------------------------------

ANN_K = 10


class QueryMix(Workload):
    name = "query_mix"
    why = ("reads only: dashboard queries and similarity search over a "
           "fixture that fits in memory; upsert and near-dup store stay idle")
    item = "queries"
    orders = 60_000
    lsh_per_cluster = 4

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.ctx.work, "fixture")
        os.makedirs(self.sf_dir)
        tables = fixture_tables(self.ctx.seed, self.orders)
        self.user_bytes = sum(t.nbytes for t in tables.values())
        self.sizes = {n: t.num_rows for n, t in tables.items()}
        for n, t in tables.items():
            pq.write_table(t, os.path.join(self.sf_dir, f"{n}.parquet"))
        # seeded query vectors, ids >= 10 so they never overlap the
        # registered queries' fixed ids; the LSH set is stratified, the
        # same number from every cluster
        rng = np.random.default_rng(self.ctx.seed + 1)
        label = tables["embeddings"].column("label").to_numpy()
        ids = np.arange(len(label))
        self.lsh_ids = sorted(
            int(i) for c in np.unique(label)
            for i in rng.choice(ids[(label == c) & (ids >= 10)], self.lsh_per_cluster, replace=False))
        vecs = np.array(tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
        self.truth = exact_neighbours(vecs, self.lsh_ids + list(range(5)), ANN_K)
        self.draw = np.random.default_rng(self.ctx.seed + 2)
        self.query_lat: dict[str, list[float]] = {}
        self.names = QUERY_SET + ["lsh_topk"]

    def _run(self, name: str):
        spark = self.spark
        if name == "lsh_topk":
            emb = spark.read.parquet(os.path.join(self.sf_dir, "embeddings.parquet"))
            with self.span("textops.similarity.lsh_topk"):
                rows = similarity.lsh_topk(emb, self.lsh_ids, k=ANN_K).collect()
                release_caches()
            return rows, ["query_id", "vec_id", "score", "rnk", "n_candidates"]
        with self.span(f"analytics.{name}"):
            df = QUERIES[name].fn(spark, self.sf_dir)
            rows = df.collect()
            release_caches()
        return rows, df.columns

    def setup(self, spark) -> None:
        """Warm-up: every query once (this builds the IVF cell artifact
        lazily); the first results are the ones checked against the oracles."""
        self.spark = spark
        self.first = {n: self._run(n) for n in self.names}

    def _oracles(self) -> dict[str, tuple[int, str]]:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads = 2")
        for t in self.sizes:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        out = {}
        for name in QUERY_SET:
            rel = con.sql(QUERIES[name].oracle)
            out[name] = rows_digest(rel.fetchall(), list(rel.columns))
        con.close()
        return out

    def check_setup(self) -> None:
        self.oracle = self._oracles()
        self.digest = {}
        for name, (rows, cols) in self.first.items():
            self.digest[name] = rows_digest(rows, cols)
            if name == "lsh_topk":
                ok = len(rows) > 0 and all(r.rnk <= ANN_K and r.query_id in self.lsh_ids for r in rows)
                detail = f"{len(rows)} rows"
            else:
                want = self.oracle.get(name)
                ok = want == self.digest[name]
                detail = f"rows={self.digest[name][0]} oracle_rows={want[0] if want else None}"
            self.check(f"oracle.{name}", ok, detail)
        top = lambda rows: {(r.query_id, r.vec_id) for r in rows}  # noqa: E731
        truth_pairs = lambda ids, k: {(q, v) for q in ids for v in self.truth[q][:k]}  # noqa: E731
        lsh = top(self.first["lsh_topk"][0])
        self.recall = len(lsh & truth_pairs(self.lsh_ids, ANN_K)) / (len(self.lsh_ids) * ANN_K)
        ivf = top(self.first["ann_ivf_topk"][0])
        self.ivf_recall = len(ivf & truth_pairs(range(5), 5)) / 25
        self.check("ann_recall_in_range", 0 < self.recall <= 1,
                   f"lsh {self.recall:.4f} over {len(self.lsh_ids)} queries, ivf {self.ivf_recall:.2f} over 5")

    cycle = ["dashboard_pass"]

    def op(self, kind: str) -> int:
        """One dashboard pass: every query of the set once, in a seeded
        order; its latency is what a page that shows them all waits for."""
        self.results = []
        for i in self.draw.permutation(len(self.names)):
            name = self.names[i]
            t0 = time.perf_counter()
            self.results.append((name, *self._run(name)))
            self.query_lat.setdefault(name, []).append(time.perf_counter() - t0)
        return len(self.names)

    def after_op(self, kind: str) -> None:
        """Untimed: every result repeats its checked first execution."""
        for name, rows, cols in self.results:
            if rows_digest(rows, cols) != self.digest[name]:
                self.check(f"repeat.{name}", False, "result differs from the checked first execution")

    def named(self, e2e, by_kind):
        every = [x for v in self.query_lat.values() for x in v]
        ann = [x for k, v in self.query_lat.items() if k.startswith("ann_") or k == "lsh_topk" for x in v]
        med = lambda xs: float(np.median(xs)) if xs else float("nan")  # noqa: E731
        return {"dashboard_pass_p50_s": (e2e["op_p50_s"], "s"),
                "query_p50_s": (med(every), "s"),
                "ann_query_p50_s": (med(ann), "s"),
                "queries_per_s": (e2e["items_per_s"], "1/s"),
                "ann_recall": (e2e["quality_recall"], "ratio"),
                "ann_ivf_recall": (self.ivf_recall, "ratio"),
                **{f"{k}_p50_s": (med(v), "s") for k, v in sorted(self.query_lat.items())}}

    def storage(self) -> float:
        from automate_data_ingestion_project_spark.analytics.load import SCRATCH_ROOT

        stored = dir_stats(self.sf_dir)[1] + dir_stats(SCRATCH_ROOT)[1]
        return stored / self.user_bytes


def exact_neighbours(vecs: np.ndarray, ids: list[int], k: int) -> dict[int, list[int]]:
    """Reference cosine top-k (ties by id), excluding the query itself."""
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    out = {}
    for q in ids:
        s = unit @ unit[q]
        s[q] = -np.inf
        order = np.lexsort((np.arange(len(s)), -s))
        out[q] = order[:k].tolist()
    return out


# ---------------------------------------------------------------------------


class NeardupStream(Workload):
    name = "neardup_stream"
    why = ("one near-dup store takes probes, appends, takedowns and "
           "compactions; ingest and analytics layers stay idle")
    item = "docs"
    # takedowns and compactions are the store's background work: timed,
    # checked and traced, but the latency median and docs/s are over batches
    main_kinds = {"filter_batch", "ingest_batch"}
    corpus_docs = 2000
    batch_docs = 200
    # one cycle of the stream: two of each batch kind first, then the
    # background work. Whole cycles run, so every window holds the same
    # batches. A cycle with one pair took about 10 s on 4 cores, and a
    # 10-second window held one cycle in some runs and two in others;
    # with two pairs (about 18 s) it holds one
    cycle = ["ingest_batch", "filter_batch", "ingest_batch", "filter_batch", "delete_docs", "compact"]
    takedown_docs = 10

    def prepare(self) -> None:
        self.stream = DocStream(self.ctx.seed, self.corpus_docs, self.batch_docs)
        self.corpus_path = os.path.join(self.ctx.work, "corpus.parquet")
        import pyarrow as pa

        ids, texts = zip(*self.stream.corpus)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), self.corpus_path)
        warm = DocStream(self.ctx.seed + 1, self.batch_docs, self.batch_docs).corpus
        self.warm_batch = [(i + 10**9, t) for i, t in warm]

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def setup(self, spark) -> None:
        """Build the index from the corpus, then ingest one warm-up batch of
        fresh documents (it exercises the probe and the append path; its
        ids are never used as duplicate sources)."""
        self.spark = spark
        self.root = os.path.join(self.ctx.work, "index")
        docs = spark.read.parquet(self.corpus_path)
        self.index = NearDupIndex.build(spark, docs, self.root)
        self.index.ingest_batch(self._frame(self.warm_batch)).collect()
        release_caches()

    def check_setup(self) -> None:
        self.deleted: list[int] = []
        self.planted = self.caught = self.cand = self.verified = 0
        self.compactions = []
        self.exact_missed = self.fresh_dropped = 0

    def before_op(self, kind: str) -> None:
        """Generate the next batch outside the timed region, once the
        index's live set is final for it (after appends and takedowns)."""
        self.pending = self.stream.batch() if kind.endswith("_batch") else None

    def op(self, kind: str) -> int:
        if kind == "compact":
            before = dir_stats(self.root)
            with self.span("textops.neardup_index.compact"):
                self.index.compact()
            self.compactions.append((before, dir_stats(self.root), len(self.stream.live)))
            return 0
        if kind == "delete_docs":
            ids = self.stream.takedown(self.takedown_docs)
            with self.span("textops.neardup_index.delete_docs"):
                self.index.delete_docs(self.spark.createDataFrame([(x,) for x in ids], "doc_id long"))
            self.deleted.extend(ids)
            return 0
        rows, exact, near = self.pending
        with self.span(f"textops.neardup_index.{kind}"):
            decisions = getattr(self.index, kind)(self._frame(rows)).collect()
            release_caches()
        dropped = {r.batch_id for r in decisions if r.is_near_dup}
        fresh = {i for i, _ in rows} - exact - near
        self.exact_missed += len(exact - dropped)
        self.fresh_dropped += len(fresh & dropped)
        self.planted += len(exact) + len(near)
        self.caught += len((exact | near) & dropped)
        self.cand += sum(r.n_candidates for r in decisions)
        self.verified += sum(r.n_verified_dups for r in decisions)
        if kind == "ingest_batch":
            self.stream.accept(sorted(fresh - dropped))
        return len(rows)

    def after_op(self, kind: str) -> None:
        """Untimed: after a compaction, deleted ids are physically gone."""
        if kind == "compact" and self.deleted:
            self._check_erased()

    def _check_erased(self) -> None:
        gone = set(self.deleted)
        left = 0
        for sub in (self.index.rows_path, self.index.bands_path, self.index.hashes_path):
            ids = self.spark.read.parquet(sub).select("doc_id").distinct().collect()
            left += sum(1 for r in ids if r.doc_id in gone)
        self.check("tombstoned_ids_gone_after_compact", left == 0, f"{left} rows of deleted ids remain")

    def finish(self) -> None:
        self.check("every_planted_exact_dup_dropped", self.exact_missed == 0, f"missed={self.exact_missed}")
        self.check("no_fresh_doc_dropped", self.fresh_dropped == 0, f"dropped={self.fresh_dropped}")
        self.recall = self.caught / self.planted if self.planted else 1.0
        self.extras["verified_per_candidate"] = self.verified / self.cand if self.cand else 0.0
        if self.compactions:
            n = len(self.compactions)
            self.extras["store_files_before_compact"] = sum(b[0] for b, _, _ in self.compactions) / n
            self.extras["store_files_after_compact"] = sum(a[0] for _, a, _ in self.compactions) / n
            self.extras["bytes_per_live_doc_before_compact"] = sum(b[1] / d for b, _, d in self.compactions) / n
            self.extras["bytes_per_live_doc_after_compact"] = sum(a[1] / d for _, a, d in self.compactions) / n

    def named(self, e2e, by_kind):
        return {"neardup_batch_p50_s": (e2e["op_p50_s"], "s"),
                "neardup_docs_per_s": (e2e["items_per_s"], "1/s"),
                "neardup_dup_recall": (e2e["quality_recall"], "ratio")}

    def storage(self) -> float:
        user = sum(len(self.stream.texts[i].encode()) for i in self.stream.live)
        return dir_stats(self.root)[1] / user


WORKLOADS = {w.name: w for w in (IngestRefresh, QueryMix, NeardupStream)}


def reset_engine_scratch() -> None:
    """Drop the engine's build-once artifacts and scratch, so that set-up
    builds them instead of finding them from an earlier workload."""
    from automate_data_ingestion_project_spark.analytics.load import SCRATCH_ROOT

    shutil.rmtree(SCRATCH_ROOT, ignore_errors=True)
