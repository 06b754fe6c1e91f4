"""Seeded input generators for the benchmark workloads.

Every generator takes the run's ``--seed`` and nothing else that varies:
the same seed gives byte-identical inputs. The engine only ever sees what
these produce — a REST stub passed as ``run_pipeline``'s ``fetch``,
parquet tables in a fixture-shaped directory, and document batches.
"""

from __future__ import annotations

import hashlib
import random
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa

# Reference work-list shape (scripts/config/config.yaml in the source
# project): departement and region scopes, property-type codes per code.
DEP_CODES = [f"{i:02d}" for i in range(1, 96) if i != 20] + ["2A", "2B"]
REGION_CODES = ["11", "24", "27", "28", "32", "44", "52", "53", "75", "76", "84", "93", "94"]
PROPERTY_CODES = ["111", "121", "1", "14", "2"]

# The registered queries the query mix draws from: Evidence-style
# dashboard shapes and the registered similarity searches. Small enough
# that a warm-up pass and two timed passes fit the per-run budget.
QUERY_SET = [
    "revenue_by_nation",
    "orders_by_month",
    "top3_orders_per_priority",
    "events_by_type",
    "ann_topk_cosine",
    "ann_lsh_topk",
    "ann_ivf_topk",
]
SCOPE_LABEL = {"departement": ("dep", "libdep", "D"), "region": ("reg", "libreg", "R")}


def _unit(*parts) -> float:
    """Deterministic uniform [0, 1) from the key parts."""
    h = hashlib.sha256("|".join(map(str, parts)).encode()).digest()
    return int.from_bytes(h[:8], "big") / 2**64


class Dv3fApi:
    """Seeded DV3F REST stub with the reference API's envelope
    (DRF-style ``count``/``next``/``results``, one page per request).

    State advances only through :meth:`advance`, so a fetch is a pure
    function of (state, url, params): replaying a round returns the same
    payloads. One extra departement code always answers HTTP 500.
    Each refresh round changes the values of a seeded share of codes
    and adds a year for every code.
    """

    # Two live departement codes and one region code keep a round near
    # the fixed per-job cost of Spark (see README, "Sizing and budget");
    # three years per page make a code span two pages from the fourth
    # year on; 40% of the codes change per refresh round.
    N_DEP = 2
    N_REG = 1
    N_YEARS = 3
    PAGE_SIZE = 3
    CHANGED_SHARE = 0.4

    def __init__(self, seed: int, metrics: list[str], response):
        self.seed = seed
        self.metrics = metrics
        self.response = response
        self.rng = random.Random(seed)
        deps = self.rng.sample(DEP_CODES, self.N_DEP + 1)
        self.failing_code = deps[0]
        self.codes = {
            "departement": sorted(deps[1:]),
            "region": sorted(self.rng.sample(REGION_CODES, self.N_REG)),
        }
        self.years = list(range(2014, 2014 + self.N_YEARS))
        self.version = {(s, c): 0 for s, cs in self.codes.items() for c in cs}
        self.round = 0

    def config(self) -> dict:
        dep = self.codes["departement"] + [self.failing_code]
        return {"args": {"scope": {"departement": dep, "region": self.codes["region"]}}}

    def advance(self) -> None:
        """Next refresh round: bump a seeded share of codes, add a year."""
        self.round += 1
        live = sorted(self.version)
        n = max(1, round(self.CHANGED_SHARE * len(live)))
        for key in self.rng.sample(live, n):
            self.version[key] += 1
        self.years.append(self.years[-1] + 1)

    def _value(self, scope, code, year, metric, cod) -> float:
        u = _unit(self.seed, scope, code, year, metric, cod, self.version[(scope, code)])
        if metric == "nbtrans":
            return float(int(u * 5000))
        return round(u * 400_000, 2)

    def wide_rows(self, scope: str, code: str) -> list[dict]:
        key_col, lib_col, prefix = SCOPE_LABEL[scope]
        return [
            {
                "annee": str(y),
                key_col: code,
                lib_col: f"{prefix}{code}",
                **{
                    f"{m}_cod{k}": self._value(scope, code, y, m, k)
                    for k in PROPERTY_CODES
                    for m in self.metrics
                },
            }
            for y in self.years
        ]

    def __call__(self, url: str, params: dict):
        parts = urlparse(url).path.rstrip("/").split("/")
        scope = "region" if parts[-3] == "regions" else "departement"
        code = parts[-1]
        if scope == "departement" and code == self.failing_code:
            return self.response(500)
        rows = self.wide_rows(scope, code)
        page = int(params.get("page") or 1)
        start = (page - 1) * self.PAGE_SIZE
        chunk = rows[start : start + self.PAGE_SIZE]
        more = start + self.PAGE_SIZE < len(rows)
        return self.response(
            200,
            {"count": len(rows), "next": f"{url}?page={page + 1}" if more else None,
             "results": chunk},
        )

    def expected_rows(self, scope: str) -> list[tuple]:
        """The normalized rows one successful fetch of every live code
        yields: (uid, annee, code, label, cod, *metrics)."""
        key_col, lib_col, prefix = SCOPE_LABEL[scope]
        out = []
        for code in self.codes[scope]:
            for y in self.years:
                for k in PROPERTY_CODES:
                    vals = [self._value(scope, code, y, m, k) for m in self.metrics]
                    vals = [int(v) if m == "nbtrans" else v for m, v in zip(self.metrics, vals)]
                    uid = hashlib.sha256(f"{y}{code}{k}".encode()).hexdigest()
                    out.append((uid, str(y), code, f"{prefix}{code}", k, *vals))
        return out


class DocStream:
    """Seeded document corpus and batches with planted duplicates.

    Words are drawn uniformly from a synthetic vocabulary, so two fresh
    documents share almost no 3-word shingles. A planted exact dup copies
    a live document's text under a new id; a planted near dup copies it
    and replaces one word (3-shingle Jaccard about 0.9, above the index's
    0.5 threshold). Sources are always live: indexed, not taken down.
    """

    # 48 words from a 20k-word vocabulary: fresh documents share almost
    # no shingles; 8% exact and 8% near duplicates per batch.
    WORDS = 48
    VOCAB = 20_000
    EXACT_SHARE = 0.08
    NEAR_SHARE = 0.08

    def __init__(self, seed: int, corpus_docs: int, batch_docs: int):
        self.rng = random.Random(seed)
        self.batch_docs = batch_docs
        self.next_id = 0
        self.texts: dict[int, str] = {}
        self.live: list[int] = []
        self.corpus = [self._fresh() for _ in range(corpus_docs)]
        self.live = [i for i, _ in self.corpus]

    def _text(self) -> str:
        return " ".join(f"w{self.rng.randrange(self.VOCAB)}" for _ in range(self.WORDS))

    def _new(self, text: str) -> tuple[int, str]:
        i = self.next_id
        self.next_id += 1
        self.texts[i] = text
        return i, text

    def _fresh(self) -> tuple[int, str]:
        return self._new(self._text())

    def batch(self) -> tuple[list[tuple[int, str]], set[int], set[int]]:
        """(rows, planted exact-dup ids, planted near-dup ids)."""
        n_exact = round(self.EXACT_SHARE * self.batch_docs)
        n_near = round(self.NEAR_SHARE * self.batch_docs)
        rows, exact, near = [], set(), set()
        for src in self.rng.sample(self.live, n_exact):
            i, t = self._new(self.texts[src])
            rows.append((i, t))
            exact.add(i)
        for src in self.rng.sample(self.live, n_near):
            w = self.texts[src].split(" ")
            w[self.rng.randrange(len(w))] = f"x{self.rng.randrange(self.VOCAB)}"
            i, t = self._new(" ".join(w))
            rows.append((i, t))
            near.add(i)
        rows.extend(self._fresh() for _ in range(self.batch_docs - n_exact - n_near))
        self.rng.shuffle(rows)
        return rows, exact, near

    def accept(self, ids) -> None:
        """Ids an ingest appended to the index become dup sources."""
        self.live.extend(ids)

    def takedown(self, n: int) -> list[int]:
        """Pick ``n`` live ids to delete; they are never dup sources again."""
        gone = self.rng.sample(self.live, n)
        dead = set(gone)
        self.live = [i for i in self.live if i not in dead]
        return sorted(gone)


def fixture_tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables (plus ``events`` and ``embeddings``) with the
    column names and types of the engine's fixture directories, sized by
    the ``orders`` row count (lineitem is about 4x, like TPC-H)."""
    rng = np.random.default_rng(seed)
    ts = pa.timestamp("us")
    n_cust, n_part = max(orders // 10, 100), max(orders // 8, 100)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    part = pa.table({
        "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(["STANDARD BRASS", "SMALL STEEL", "PROMO TIN", "LARGE COPPER"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    day = 86_400 * 10**6
    epoch_1992 = 694_224_000 * 10**6
    o_dates = epoch_1992 + rng.integers(0, 2400, orders) * day
    orders_t = pa.table({
        "o_orderkey": np.arange(1, orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, n_cust + 1, orders, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], orders),
        "o_totalprice": np.round(rng.uniform(900, 500_000, orders), 2),
        "o_orderdate": pa.array(o_dates, ts),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders),
    })
    n_lines = rng.integers(1, 8, orders)
    l_order = np.repeat(np.arange(1, orders + 1, dtype=np.int64), n_lines)
    n_li = len(l_order)
    line_no = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, n_part + 1, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1001, n_li, dtype=np.int64),
        "l_linenumber": line_no,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(np.repeat(o_dates, n_lines) + rng.integers(1, 122, n_li) * day, ts),
    })
    n_ev = orders // 2
    epoch_2024 = 1_704_067_200 * 10**6
    events = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(epoch_2024 + rng.integers(0, 60 * day, n_ev), ts),
        "user_id": rng.integers(1, max(n_ev // 20, 2), n_ev, dtype=np.int64),
        "event_type": rng.choice(["view", "click", "cart", "purchase", "search"], n_ev),
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k":{int(v)}}}' for v in rng.integers(0, 50, n_ev)],
    })
    return {
        "region": region, "nation": nation, "customer": customer, "part": part,
        "orders": orders_t, "lineitem": lineitem, "events": events,
        "embeddings": embedding_table(rng),
    }


# 1,200 vectors of 64 dimensions in 48 equal clusters of 25: enough
# neighbours per query for a top-10, small enough for the per-run budget.
EMB_VECTORS = 1200
EMB_DIM = 64
EMB_CLUSTERS = 48
CENTRES_SEED = 20_240_101


def embedding_table(rng: np.random.Generator) -> pa.Table:
    """Clustered vectors, so neighbours exist and top-k recall measures the
    index. The cluster centres are a fixed part of the generator and every
    cluster has the same size: recall then depends on the seed only
    through the noise, not through where the seed happened to put whole
    clusters relative to the index's hyperplanes."""
    centers = np.random.default_rng(CENTRES_SEED).normal(size=(EMB_CLUSTERS, EMB_DIM))
    member = np.arange(EMB_VECTORS) % EMB_CLUSTERS
    rng.shuffle(member)
    noise = 0.3 * rng.normal(size=(EMB_VECTORS, EMB_DIM))
    vecs = (centers[member] + noise).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(EMB_VECTORS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": member.astype(np.int32),
    })
