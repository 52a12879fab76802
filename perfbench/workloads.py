"""The three benchmark workloads.

Each workload generates its inputs from the seed, then runs closed-loop
operations (one client, the next operation starts when the previous one
has returned).  There is no warm-up operation: the first operation runs
in a fresh JVM, as a batch job does, and is measured.  Every operation
checks its own output; `step()` returns one sample per operation with
`ok` set from that check.

- `tile_job`: the reference's tiling job through `app.run_job` — a
  seed-chosen half of the grid, then a resumed run over all tiles, the
  committed table read back, assembled and joined to its tile heights —
  then the same pages loaded with `ingest_pages` and queried once by
  kNN inside a polygon.  One operation reaches every tiling layer; no
  dedup code runs.
- `tile_query`: `ingest_pages` builds the tile-clustered table over a
  1000x1000 index, then seed-drawn extent and kNN queries run against
  it until time runs out.  Read path of tiler/heights/neighbors; no
  dispatch or commits.
- `textpipe`: `run_textpipe` over documents built from the corpus with
  planted exact copies and near-duplicate chains.  Dedup and
  connected components; no tiling layer runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from batch3dfier_spark import app, datagen, textpipe
from batch3dfier_spark.functions.geocode import geocode_np
from batch3dfier_spark.geo import point_in_polygon, polygon_bbox
from batch3dfier_spark.operators import bag3d, dedup, heights, neighbors, tiler
from batch3dfier_spark.sources import pages
from batch3dfier_spark.storage.tablefmt import IcebergishTable

from tracing import tree_cpu_s

T = datagen.REF_TERRITORY
MAX_SENTENCES = 8   # short pages keep generation inside the set-up budget
ROW_STRIDE = 10**9  # corpus rows for seed s are [s * 1e9, s * 1e9 + N)
DONOR_OFFSET = 5 * 10**8  # rows the near-duplicate chains are cut from


def row_base(seed: int) -> int:
    # the timestamp column is i*137 s: keep i*137 inside int64 nanoseconds
    return (seed % 9_000_000) * ROW_STRIDE


def write_pages(path: str, lo: int, n: int, parts: int = 4) -> pd.DataFrame:
    """Rows [lo, lo+n) of the pages table as `parts` parquet files; the
    frame is returned for the oracles."""
    os.makedirs(path, exist_ok=True)
    frames = []
    for i in range(parts):
        a, b = lo + i * n // parts, lo + (i + 1) * n // parts
        df = datagen.gen_pages_range(a, b, max_sentences=MAX_SENTENCES)
        # Spark's vectorized parquet reader rejects NANOS timestamps
        df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                       os.path.join(path, f"part-{i:03d}.parquet"))
        frames.append(df)
    return pd.concat(frames, ignore_index=True)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def parquet_ids(path: str, col: str = "doc_id") -> set[int]:
    return set(pq.ParquetDataset(path).read(columns=[col]).column(0).to_pylist())


def grid_gids(x: np.ndarray, y: np.ndarray, n: int) -> np.ndarray:
    """Numpy twin of the grid fast path of `tiler.assign_tiles`."""
    wx = (T.xmax - T.xmin) / n
    wy = (T.ymax - T.ymin) / n
    col = np.minimum(np.floor((x - T.xmin) / wx), n - 1).astype(np.int64)
    row = np.minimum(np.floor((y - T.ymin) / wy), n - 1).astype(np.int64)
    return row * n + col + 1


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.sizes: dict = {}
        self.counts: dict = {}  # per-layer counts the traced run reads
        os.makedirs(work, exist_ok=True)

    def close(self) -> None:
        pass

    def _timed(self, kind: str, fn) -> dict:
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        out = fn()
        return {"kind": kind, "s": time.perf_counter() - t0,
                "cpu_s": tree_cpu_s() - cpu0, **out}


# ---------------------------------------------------------------------------
# tile_query


def random_polygon(rng: np.random.Generator, r: float) -> np.ndarray:
    """A star-shaped polygon of radius ~r inside the territory."""
    k = int(rng.integers(5, 13))
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = r * rng.uniform(0.6, 1.0, k)
    cx = rng.uniform(T.xmin + r, T.xmax - r)
    cy = rng.uniform(T.ymin + r, T.ymax - r)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


class TileQuery(Workload):
    """Load once, then query.  Two ingests open the measured window
    (their median is the load rate); extent and kNN queries then
    alternate over the second table until time runs out."""

    name = "tile_query"
    N = 40_000
    GRID = 1000
    K = 4
    SAMPLE_MOD = 8          # kNN probes: pages whose id is divisible by 8
    N_QUERIES = 60          # drawn up front; a run uses a prefix
    KINDS = ("extent", "knn")  # query i is of kind KINDS[i % len(KINDS)]
    R_MIN, R_MAX = 0.3, 120.0  # polygon radius (m): sub-tile .. ~35k tiles
    INGESTS = 2

    def setup(self) -> None:
        self.pages_dir = os.path.join(self.work, "pages")
        df = write_pages(self.pages_dir, row_base(self.seed), self.N)
        self._plan_queries(df)
        self.sizes = {"pages": self.N, "grid": f"{self.GRID}x{self.GRID}",
                      "k": self.K, "radius_m": [self.R_MIN, self.R_MAX]}
        self._n = 0
        self._q = 0

    def _plan_queries(self, df: pd.DataFrame) -> None:
        """The query index, and seed-drawn polygons with their expected
        row counts from `geocode_np` + `point_in_polygon`."""
        self.index = tiler.TileIndex.regular_grid(T, self.GRID, self.GRID)
        self.index.tree  # built once here, not inside the first query
        self.x, self.y = geocode_np(df["url"], df["warc_ts"], T)
        pid = df["url"].str.rsplit("/", n=1).str[-1].astype(np.int64).to_numpy()
        sampled = pid % self.SAMPLE_MOD == 0
        rng = np.random.default_rng(self.seed + 1)
        self.queries = []
        for i in range(self.N_QUERIES):
            r = float(np.exp(rng.uniform(np.log(self.R_MIN), np.log(self.R_MAX))))
            poly = random_polygon(rng, r)
            inside = point_in_polygon(self.x, self.y, poly)
            self.queries.append({
                "kind": self.KINDS[i % len(self.KINDS)],
                "poly": poly,
                "extent_rows": int(inside.sum()),
                "knn_rows": self.K * int((inside & sampled).sum()),
            })
        self.returned = 0  # rows all queries returned, for the traced run

    def _ingest(self, pages_dir: str, out: str) -> None:
        pages.ingest_pages(self.spark, pages_dir, out, self.index, T)

    def _query(self, table: str, q: dict) -> tuple[int, int]:
        """Run one query; returns (rows returned, rows expected)."""
        poly = q["poly"]
        bb = polygon_bbox(poly)
        df = pages.read_geocoded(self.spark, table)
        with self.tracer.span(f"query.{q['kind']}"):
            sel = tiler.select_tiles(self.index, poly)
            cand = df.where(
                F.col("x").between(bb.xmin, bb.xmax)
                & F.col("y").between(bb.ymin, bb.ymax)
                & F.col("tile_gid").between(int(sel["gid"].min()), int(sel["gid"].max()))
            )
            if q["kind"] == "extent":
                inside = tiler.extent_filter(cand, poly)
                hts = heights.percentile_heights(
                    inside.withColumn("z", F.length("text").cast("double")),
                    "tile_gid", "z")
                joined = heights.join_heights(inside.select("url", "tile_gid"), hts, "tile_gid")
                got = int(joined.agg(F.count(F.lit(1)).alias("n"),
                                     F.sum("ground_50"), F.sum("roof_90")).collect()[0]["n"])
                want = q["extent_rows"]
            else:
                pid = F.regexp_extract("url", r"/page/(\d+)$", 1).cast("long")
                probes = tiler.extent_filter(cand.where(pid % self.SAMPLE_MOD == 0), poly)
                got = int(neighbors.knn_tiles(probes, self.index, k=self.K, keep=("url",)).count())
                want = q["knn_rows"]
        self.returned += got
        return got, want

    def _ingested_rows(self, table: str) -> list[str]:
        n = pq.ParquetDataset(table).read(columns=["tile_gid"]).num_rows
        return [] if n == self.N else [f"ingested {n} rows != {self.N}"]

    def step(self) -> dict:
        self._n += 1
        if self._n <= self.INGESTS:
            self.table = os.path.join(self.work, f"geo-{self._n}")
            s = self._timed("ingest", lambda: self._ingest(self.pages_dir, self.table) or {})
            s["problems"] = self._ingested_rows(self.table)
            s["ok"] = not s["problems"]
            return s
        q = self.queries[self._q % len(self.queries)]
        self._q += 1
        res = {}

        def run():
            res["got"], res["want"] = self._query(self.table, q)
            return {}

        s = self._timed(q["kind"], run)
        s["rows"] = res["got"]
        s["ok"] = res["got"] == res["want"]
        s["problems"] = [] if s["ok"] else [
            f"{q['kind']} query {self._q}: {res['got']} rows != {res['want']}"]
        return s


# ---------------------------------------------------------------------------
# tile_job


class TileJob(TileQuery):
    """Tile a territory, resume, read back, assemble and join the tile
    heights back; then load the same pages and run one kNN query.

    An 8x8 grid over 5 000 pages: at the paper's 64x64 one iteration of
    the job alone measured 36 s warm (8.5 s phase 1, 8 s phase 2, 19 s
    reading back 4 096 one-tile files), too long for a run.  The load
    and the query use the same 8x8 index, with a polygon large enough to
    hold pages."""

    name = "tile_job"
    N = 5_000
    GRID = 8
    N_QUERIES = 1
    KINDS = ("knn",)
    R_MIN, R_MAX = 20.0, 150.0

    def setup(self) -> None:
        self.pages_dir = os.path.join(self.work, "pages")
        df = write_pages(self.pages_dir, row_base(self.seed), self.N)
        self._plan_queries(df)
        self.page_gids = grid_gids(self.x, self.y, self.GRID)
        frame = self.index.frame
        rng = np.random.default_rng(self.seed)
        pick = np.sort(rng.choice(len(frame), len(frame) // 2, replace=False))
        self.half_units = frame["unit"].to_numpy()[pick].tolist()
        self.half_gids = set(frame["gid"].to_numpy()[pick].tolist())
        self.input_bytes = dir_bytes(self.pages_dir)
        self.sizes = {"pages": self.N, "grid": f"{self.GRID}x{self.GRID}",
                      "phase1_tiles": len(self.half_units),
                      "input_bytes": self.input_bytes,
                      "knn_rows": self.queries[0]["knn_rows"]}
        self._k = 0

    def _cfg(self, mode: dict, table: str) -> dict:
        return {
            **app.CONFIG_DEFAULTS,
            "input": {"pages": self.pages_dir},
            "_territory": T,
            "tile_index": {"nx": self.GRID, "ny": self.GRID},
            "mode": mode,
            "output": {"table": table},
            "resume": True,
        }

    def _iteration(self) -> dict:
        self._k += 1
        table_dir = os.path.join(self.work, f"table-{self._k}")
        geo_dir = os.path.join(self.work, f"geo-{self._k}")
        tr = self.tracer
        t = [time.perf_counter()]
        with tr.span("tile_job.phase1"):
            app.run_job(self.spark, self._cfg({"tile_list": self.half_units}, table_dir))
        t.append(time.perf_counter())
        with tr.span("tile_job.phase2"):
            app.run_job(self.spark, self._cfg({"tile_list": ["all"]}, table_dir))
        t.append(time.perf_counter())
        rows = IcebergishTable(table_dir).read(self.spark).select("url", "tile_gid", "z")
        with tr.span("bag3d.assemble_bag3d"):
            hts = heights.percentile_heights(rows, "tile_gid", "z")
            got = bag3d.assemble_bag3d(rows, hts).agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("url").alias("urls"),
                F.countDistinct("tile_gid").alias("tiles"),
            ).collect()[0]
        with tr.span("tile_job.join_heights"):
            joined = heights.join_heights(rows.select("url", "tile_gid"), hts, "tile_gid").count()
        t.append(time.perf_counter())
        self._ingest(self.pages_dir, geo_dir)
        t.append(time.perf_counter())
        knn = self._query(geo_dir, self.queries[0])
        t.append(time.perf_counter())
        names = ("phase1_s", "phase2_s", "assemble_s", "ingest_s", "knn_s")
        return {**{k: t[i + 1] - t[i] for i, k in enumerate(names)},
                "table_dir": table_dir, "geo_dir": geo_dir, "got": got,
                "joined": joined, "knn": knn}

    def step(self) -> dict:
        s = self._timed("iteration", self._iteration)
        table = IcebergishTable(s.pop("table_dir"))
        geo_dir = s.pop("geo_dir")
        got = s.pop("got")
        lin = table.lineage()
        snaps = sorted(lin["snapshot_id"].unique())
        by_snap = [set(lin.loc[lin.snapshot_id == sid, "tile_gid"].astype(int)) for sid in snaps]
        expected = set(self.page_gids.tolist())
        problems = []
        if got["n"] != self.N:
            problems.append(f"committed rows {got['n']} != pages {self.N}")
        if got["urls"] != self.N:
            problems.append(f"distinct urls {got['urls']} != pages {self.N}")
        if got["tiles"] != len(expected):
            problems.append(f"committed tiles {got['tiles']} != {len(expected)}")
        if len(by_snap) != 2 or by_snap[0] & by_snap[1]:
            problems.append("phase-2 snapshot is not disjoint from phase 1")
        elif by_snap[0] != expected & self.half_gids:
            problems.append("phase-1 snapshot is not the chosen half")
        joined = s.pop("joined")
        if joined != self.N:
            problems.append(f"rows joined to their tile heights {joined} != pages {self.N}")
        problems += self._ingested_rows(geo_dir)
        n, want = s.pop("knn")
        s["knn_rows"] = n
        if n != want:
            problems.append(f"knn query: {n} rows != {want}")
        data_dir = os.path.join(table.root, "data")
        self.counts = {
            "files_written": len(table.files()),
            "data_bytes": dir_bytes(data_dir),
            "metadata_bytes": dir_bytes(table.root) - dir_bytes(data_dir),
            "rows_committed": int(got["n"]),
        }
        shutil.rmtree(table.root, ignore_errors=True)
        shutil.rmtree(geo_dir, ignore_errors=True)
        s["ok"], s["problems"] = not problems, problems
        s["table_bytes_per_input_byte"] = (
            (self.counts["data_bytes"] + self.counts["metadata_bytes"]) / self.input_bytes)
        return s


# ---------------------------------------------------------------------------
# textpipe


def salt_words(text: str, key: int) -> str:
    """Re-spell each word with a per-page suffix.  The generator draws
    from 64 words, so two unrelated long pages share about half of their
    5-char shingles (median Jaccard 0.56 measured); that background of
    chance near-duplicates is what makes connected components blow up
    on the raw corpus.  Salted, unrelated pages stay below 0.22."""
    out, i = [], 0
    for line in text.split("\n"):
        words = []
        for w in line.split(" "):
            s = (key * 2654435761 + i * 40503) % 46656
            words.append(w + np.base_repr(s, 36).lower())
            i += 1
        out.append(" ".join(words))
    return "\n".join(out)


def cc_rounds(edges: list[tuple[int, int]]) -> int:
    """Rounds `dedup.connected_components` executes on `edges`: the same
    min-label propagation with pointer jumping, in plain Python."""
    nbrs: dict[int, list[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    label = {v: min(v, min(ns)) for v, ns in nbrs.items()}
    prev, rounds = sum(label.values()), 0
    while True:
        rounds += 1
        stepped = {v: min(label[v], min(label[u] for u in ns)) for v, ns in nbrs.items()}
        label = {v: stepped[c] for v, c in stepped.items()}
        cur = sum(label.values())
        if cur == prev:
            return rounds
        prev = cur


def component_drops(edges: list[tuple[int, int]]) -> set[int]:
    """Ids near-dedup drops on `edges`: all but the minimum of each
    connected component."""
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        while parent.setdefault(v, v) != v:
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v for v in parent if find(v) != v}


def hash_draw(key: int, seed: str) -> float:
    """Python twin of `sampling.hash_fraction_col`."""
    h = hashlib.sha256(f"{key}{seed}".encode()).hexdigest()
    return int(h[:15], 16) / float(1 << 60)


class TextPipe(Workload):
    """Documents = salted corpus pages + exact copies of some of them +
    near-duplicate chains.  Chain member j holds blocks j..j+7 of a
    sequence of 30-token blocks, so neighbours share 7 of 8 blocks
    (Jaccard ~0.80) and members two apart share 6 (~0.64): at threshold
    0.72 each chain is a path, its ids ascend along it, and the
    component round count is fixed by the chain length for every seed.

    The pipeline keeps its stages, so every step but the quality filter
    is checked against an oracle: exact dedup drops exactly the planted
    copies; near dedup drops only non-head members of the planted chains
    among the quality survivors, and at least MIN_RECALL of them (LSH is
    probabilistic, but its permutations are fixed, so a seed always
    gives the same survivors); the split and the domain cap are
    recomputed from the same sha-256 draws."""

    name = "textpipe"
    N_PAGES = 1_000
    N_COPIES = 100
    N_CHAINS = 20
    CHAIN_LEN = 8
    WINDOW, BLOCK = 8, 30
    THRESHOLD = 0.72
    CAP = 5  # ~7 docs per host survive the split: the cap binds
    SEED = "perfbench"
    TRAIN = 0.9
    MIN_RECALL = 0.95  # LSH misses about one planted pair in 300

    def steps(self) -> list[dict]:
        return [
            {"op": "exact_dedup"},
            {"op": "quality_filter", "min_tokens": 10,
             "max_dup_line_frac": 0.3, "max_top_bigram_frac": 0.2},
            {"op": "near_dedup", "method": "minhash", "threshold": self.THRESHOLD},
            {"op": "hash_split",
             "splits": [["train", self.TRAIN], ["val", 0.05], ["test", 0.05]],
             "keep": "train", "seed": self.SEED},
            {"op": "domain_cap", "cap": self.CAP, "key_col": "source", "seed": self.SEED},
        ]

    def _docs(self, lo: int, path: str) -> dict:
        n_pages, n_copies, n_chains = self.N_PAGES, self.N_COPIES, self.N_CHAINS
        rng = np.random.default_rng(lo % (2**32))
        pg = datagen.gen_pages_range(lo, lo + n_pages, max_sentences=MAX_SENTENCES)
        ids = list(range(n_pages))
        texts = [salt_words(t, lo + i) for i, t in enumerate(pg["text"])]
        hosts = pg["url"].str.split("/").str[2].tolist()
        src = rng.choice(n_pages, n_copies, replace=False)
        copy_ids = list(range(n_pages, n_pages + n_copies))
        ids += copy_ids
        texts += [texts[i] for i in src]
        hosts += [hosts[i] for i in src]
        # donor tokens for the chains come from another row range
        need = (self.CHAIN_LEN + self.WINDOW - 1) * self.BLOCK
        donor_lo = lo + DONOR_OFFSET
        toks: list[str] = []
        k = 0
        while len(toks) < need * n_chains:
            d = datagen.gen_pages_range(donor_lo + k * 64, donor_lo + (k + 1) * 64)
            for j, t in enumerate(d["text"]):
                body = t.split("\n", 1)[1] if "\n" in t else t
                toks += salt_words(body, donor_lo + k * 64 + j).split()
            k += 1
        edges = []
        nid = n_pages + n_copies
        for c in range(n_chains):
            stream = toks[c * need:(c + 1) * need]
            blocks = [" ".join(stream[b * self.BLOCK:(b + 1) * self.BLOCK])
                      for b in range(self.CHAIN_LEN + self.WINDOW - 1)]
            for j in range(self.CHAIN_LEN):
                ids.append(nid + j)
                texts.append("\n".join(blocks[j:j + self.WINDOW]))
                hosts.append(f"chain{c}.example")
                if j:
                    edges.append((nid + j - 1, nid + j))
            nid += self.CHAIN_LEN
        docs = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts,
                             "source": hosts})
        os.makedirs(path, exist_ok=True)
        for i, part in enumerate(np.array_split(np.arange(len(docs)), 4)):
            pq.write_table(pa.Table.from_pandas(docs.iloc[part], preserve_index=False),
                           os.path.join(path, f"part-{i:03d}.parquet"))
        return {"n": len(docs), "ids": set(ids), "copies": set(copy_ids), "edges": edges,
                "source": dict(zip(ids, hosts))}

    def setup(self) -> None:
        self.docs_dir = os.path.join(self.work, "docs")
        self.planted = self._docs(row_base(self.seed), self.docs_dir)
        self.rounds_planted = cc_rounds(self.planted["edges"])
        self.sizes = {"docs": self.planted["n"], "pages": self.N_PAGES,
                      "exact_copies": self.N_COPIES, "chains": self.N_CHAINS,
                      "chain_len": self.CHAIN_LEN, "threshold": self.THRESHOLD}
        self._k = 0
        self._cc: list[dict] = []
        orig = dedup.connected_components

        def counted(*args, **kwargs):
            st = kwargs.setdefault("stats", {})
            out = orig(*args, **kwargs)
            self._cc.append(st)
            return out

        # rounds are a correctness check in every run, so this shim is
        # installed whether or not the run is traced
        self._cc_orig = orig
        dedup.connected_components = counted

    def close(self) -> None:
        dedup.connected_components = self._cc_orig

    def _run(self) -> tuple[str, dict]:
        self._k += 1
        out = os.path.join(self.work, f"out-{self._k}")
        report = textpipe.run_textpipe(self.spark, {
            "input": {"documents": self.docs_dir},
            "output": {"path": out, "keep_stages": True},
            "steps": self.steps()})
        return out, report

    def _expected(self, stages: str) -> tuple[dict[str, set[int]], dict[str, set[int]], list]:
        """(the ids each step kept, the ids each checked step should
        have kept, the planted edges among the quality survivors)."""
        names = [f"step_{k:02d}_{s['op']}" for k, s in enumerate(self.steps()[:-1])]
        kept = {n.split("_", 2)[2]: parquet_ids(os.path.join(stages, n)) for n in names}
        want = {"exact_dedup": self.planted["ids"] - self.planted["copies"]}
        quality = kept["quality_filter"]
        edges = [(a, b) for a, b in self.planted["edges"] if a in quality and b in quality]
        want["near_dedup"] = quality - component_drops(edges)
        want["hash_split"] = {i for i in kept["near_dedup"]
                              if hash_draw(i, self.SEED) < self.TRAIN}
        by_host: dict[str, list[int]] = {}
        for i in kept["hash_split"]:
            by_host.setdefault(self.planted["source"][i], []).append(i)
        want["domain_cap"] = {i for ids in by_host.values()
                              for i in sorted(ids, key=lambda i: (hash_draw(i, self.SEED), i))
                              [:self.CAP]}
        return kept, want, edges

    def step(self) -> dict:
        res = {}

        def run():
            res["out"], res["report"] = self._run()
            return {}

        s = self._timed("pipeline", run)
        out = res["out"]
        stages = textpipe._stages_root(out)
        kept, want, edges = self._expected(stages)
        kept["domain_cap"] = parquet_ids(out)
        rounds = self._cc[-1].get("rounds") if self._cc else None
        rounds_want = cc_rounds(edges)
        problems = []
        left = self.planted["copies"] & kept["domain_cap"]
        if left:
            problems.append(f"{len(left)} planted exact copies survived")
        members = {b for _, b in edges}  # planted non-head chain members
        recall = len(members - kept["near_dedup"]) / len(members) if members else 1.0
        for op, ids in want.items():
            # MinHash LSH may miss a planted pair, and its chain then
            # keeps two members; it must drop no other document
            extra = kept[op] - ids - (members if op == "near_dedup" else set())
            if extra or ids - kept[op]:
                problems.append(f"{op} kept {len(kept[op])} docs, expected {len(ids)} "
                                f"({len(kept[op] - ids)} extra, {len(ids - kept[op])} missing)")
        if recall < self.MIN_RECALL:
            problems.append(f"near dedup removed {recall:.3f} of the planted chain members")
        if rounds != rounds_want:
            problems.append(f"CC rounds {rounds} != planted {rounds_want}")
        self.counts = {"rounds": rounds or 0, "recall": recall,
                       "steps": res["report"]["steps"]}
        self._cc.clear()
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(stages, ignore_errors=True)
        s["docs"] = self.planted["n"]
        s["digest"] = hashlib.sha256(
            np.array(sorted(kept["domain_cap"]), dtype=np.int64).tobytes()).hexdigest()
        s["ok"], s["problems"] = not problems, problems
        return s


WORKLOADS = {w.name: w for w in (TileJob, TileQuery, TextPipe)}
