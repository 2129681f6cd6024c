"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from ``--seed``:

- :class:`LandingFeed` — consecutive days of arXiv / NYT / Scholar
  payloads, handed to ``io.sources.fetch_*`` as injected transports
  (the program's own seam for a real HTTP client), plus the facts a
  correct pipeline must reproduce from them;
- :func:`write_tables` — the warehouse tables the registry queries read
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``),
  one parquet file each, with the shapes and value domains of the
  repository's test data so every registered query runs on them.

Only numpy and pyarrow are used, so generation is quick and identical
for a given seed on any machine.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# landing feed (daily_pipeline)
# ---------------------------------------------------------------------------

_TOPIC_WORDS = (
    "solar energy storage lithium ion battery efficiency carbon abatement "
    "technology photovoltaic innovation renewable biofuel quality climate "
    "change emission electricity green clean fuel tax air kilowatt megawatt "
    "polysilicon biogas kyoto ipcc"
).split()
_FILLER_WORDS = (
    "the a of and study report market policy results method analysis "
    "novel approach data model grid cost demand supply review impact "
    "regional national global industry research systems design plants "
    "companies investors studies batteries"
).split()
_VOCAB = np.array(_TOPIC_WORDS + _FILLER_WORDS)


@dataclass
class DayBatch:
    """One run date's payloads and what the pipeline must make of them."""

    run_date: str
    arxiv: dict
    nyt: dict
    scholar: dict
    #: arXiv ids new today / carried over from yesterday with version+1
    arxiv_new: int = 0
    arxiv_updated: int = 0
    #: NYT docs whose (id, pub_date) key silver has not seen before
    nyt_new: int = 0
    #: Scholar rows past the silver watermark (strict >)
    scholar_new: int = 0


@dataclass
class LandingFeed:
    """Consecutive daily batches for the three sources.

    About half of each day's arXiv ids are yesterday's ids at a higher
    version (the merge's update branch); a quarter of each day's NYT
    docs repeat yesterday's (id, pub_date) (the dedup-insert anti join);
    Scholar snippets mix "1 day ago", "N days ago" and plain prefixes
    (the publish-date derivation and the strict watermark)."""

    seed: int
    n_arxiv: int = 4000
    n_nyt: int = 2000
    n_scholar: int = 400
    start: dt.date = dt.date(2024, 3, 1)
    days: list[DayBatch] = field(default_factory=list)
    #: expected silver state after the last generated day
    arxiv_versions: dict[str, int] = field(default_factory=dict)
    nyt_keys: set[tuple[str, str]] = field(default_factory=set)
    scholar_rows: int = 0
    _scholar_wm: dt.date | None = None
    _prev_arxiv: list[str] = field(default_factory=list)
    _prev_nyt: list[dict] = field(default_factory=list)
    _next_arxiv: int = 0
    _next_nyt: int = 0

    def _rng(self, day: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, day])

    def _text(self, rng: np.random.Generator, lo: int, hi: int) -> str:
        n = int(rng.integers(lo, hi))
        return " ".join(_VOCAB[rng.integers(0, len(_VOCAB), n)])

    def next_day(self) -> DayBatch:
        """Generate the next run date's batch and advance the facts."""
        i = len(self.days)
        rng = self._rng(i)
        date = self.start + dt.timedelta(days=i)
        run_date = date.strftime("%Y%m%d")
        iso = date.isoformat()
        batch = DayBatch(run_date, {}, {}, {})

        # arXiv: half carried from yesterday at version+1, rest new ids
        carried = []
        if self._prev_arxiv:
            k = min(len(self._prev_arxiv), self.n_arxiv // 2)
            pick = rng.choice(len(self._prev_arxiv), size=k, replace=False)
            carried = [self._prev_arxiv[j] for j in sorted(pick)]
        n_fresh = self.n_arxiv - len(carried)
        fresh = [f"{2400 + k // 100000}.{k % 100000:05d}"
                 for k in range(self._next_arxiv, self._next_arxiv + n_fresh)]
        self._next_arxiv += n_fresh
        entries = []
        for art in carried + fresh:
            version = self.arxiv_versions.get(art, 0) + 1
            self.arxiv_versions[art] = version
            entries.append({
                "id": f"http://arxiv.org/abs/{art}v{version}",
                "updated": f"{iso}T{int(rng.integers(0, 24)):02d}:30:00Z",
                "title": self._text(rng, 4, 10),
                "summary": self._text(rng, 20, 60),
            })
        batch.arxiv = {"feed": {"entry": entries}}
        batch.arxiv_updated = len(carried)
        batch.arxiv_new = len(fresh)
        self._prev_arxiv = carried + fresh

        # NYT: a quarter repeats yesterday's docs verbatim, rest new
        docs = []
        if self._prev_nyt:
            k = min(len(self._prev_nyt), self.n_nyt // 4)
            pick = rng.choice(len(self._prev_nyt), size=k, replace=False)
            docs = [self._prev_nyt[j] for j in sorted(pick)]
        for _ in range(self.n_nyt - len(docs)):
            n = self._next_nyt
            self._next_nyt += 1
            docs.append({
                "_id": f"nyt://article/{n:08d}",
                "abstract": self._text(rng, 8, 25),
                "lead_paragraph": self._text(rng, 15, 40),
                "snippet": self._text(rng, 5, 15),
                "pub_date": f"{iso}T{int(rng.integers(0, 24)):02d}:00:00+0000",
                "multimedia": [{"url": f"img/{n}", "Url": f"IMG/{n}"}],
            })
        before = len(self.nyt_keys)
        self.nyt_keys.update((d["_id"], d["pub_date"][:10]) for d in docs)
        batch.nyt_new = len(self.nyt_keys) - before
        batch.nyt = {"docs": docs}
        self._prev_nyt = docs

        # Scholar: "1 day ago", "N days ago" and plain snippets
        results = []
        dates = []
        for j in range(self.n_scholar):
            form = int(rng.integers(0, 3))
            ago = 1 if form == 0 else int(rng.integers(2, 30)) if form == 1 else 0
            prefix = ("1 day ago " if form == 0
                      else f"{ago} days ago " if form == 1 else "")
            dates.append(date - dt.timedelta(days=ago))
            results.append({
                "result_id": f"GS{run_date}{j:05d}",
                "link": f"https://scholar.example.org/{run_date}/{j}",
                "title": self._text(rng, 4, 10),
                "snippet": prefix + self._text(rng, 10, 30),
                "position": j + 1,
                "publication_info": {"summary": f"Journal {j % 50}, {run_date[:4]}"},
            })
        if self._scholar_wm is None:
            batch.scholar_new = len(dates)
        else:
            batch.scholar_new = sum(d > self._scholar_wm for d in dates)
        self.scholar_rows += batch.scholar_new
        top = max(dates)
        self._scholar_wm = top if self._scholar_wm is None else max(self._scholar_wm, top)
        batch.scholar = {"organic_results": results}

        self.days.append(batch)
        return batch


# ---------------------------------------------------------------------------
# warehouse tables (query_mix)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
_PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "query row stream the batch sort value hash filter big data part column "
    "order scan a slow agg key window table merge vector join spark line "
    "small fast group customer"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

TABLE_NAMES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days + 1
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    # one document in twenty is another document plus a marker word:
    # the near-duplicates the dedup and similarity operators look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (documents and
    embeddings follow the test data's 5,000 / 2,000 rows at sf0.1)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(100, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, str]:
    """Write every warehouse table as ``<out_dir>/<name>.parquet`` and
    return the paths. Each table draws from its own child stream of the
    seed, so one table's size never shifts another's values."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes(sf)
    rngs = dict(zip(TABLE_NAMES, (np.random.default_rng([seed, k])
                                  for k in range(len(TABLE_NAMES)))))
    i32 = np.int32
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    r, k = rngs["customer"], n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": r.integers(0, 25, k).astype(i32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, k)]})
    r, k = rngs["supplier"], n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": r.integers(0, 25, k).astype(i32),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})
    r, k = rngs["part"], n["part"]
    keys = np.arange(k, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(_PART_ADJ)[r.integers(0, 8, k)], " "),
                              np.array(_PART_NOUN)[r.integers(0, 8, k)]),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, k)],
        "p_size": r.integers(1, 51, k).astype(i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 1)})
    r, k = rngs["orders"], n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": r.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), k),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, k)]})
    r, k = rngs["lineitem"], n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": r.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": r.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": r.integers(1, 8, k).astype(i32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), k)})
    r, k = rngs["events"], n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
    tables["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": r.integers(0, n["users"], k).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})
    tables["documents"] = _documents(rngs["documents"], n["documents"])
    tables["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])

    paths = {}
    for name in TABLE_NAMES:
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], paths[name])
    return paths

