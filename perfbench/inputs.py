"""Seeded benchmark inputs and their exact answers.

Every input is a pure function of the workload seed: the sequence tables
come from the library's own generator (``generate_sequence_table``, one
call per shard, run in a small process pool so set-up stays short) and are
committed as an Iceberg snapshot with ``ensure_iceberg_metadata``; the
relational tables for the query mix are drawn here with numpy. Exact
answers are computed by DuckDB, an engine independent of the one measured.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np

# one generator shard per process; the pool never exceeds the host's cores
GEN_PROCESSES = 4


@dataclass(frozen=True)
class SeqTableShape:
    files: int
    rows_per_file: int
    vocab: int = 50257

    @property
    def rows(self) -> int:
        return self.files * self.rows_per_file


def _gen_shard(args) -> list[str]:
    from tdigest_spark.sources.sequence_table import generate_sequence_table

    out_dir, shard, seed, n_files, rows_per_file, vocab = args
    shard_dir = Path(out_dir) / f"_shard{shard:02d}"
    generate_sequence_table(
        shard_dir,
        n_rows=n_files * rows_per_file,
        seed=seed,
        vocab=vocab,
        rows_per_file=rows_per_file,
    )
    return sorted(str(p) for p in shard_dir.glob("*.parquet"))


def shard_seed(seed: int, shard: int) -> int:
    return int(np.random.SeedSequence([seed, shard]).generate_state(1)[0])


def make_sequence_table(path: Path, shape: SeqTableShape, seed: int) -> Path:
    """Generate the seed's sequence table at ``path`` and commit it as an
    Iceberg snapshot. Files are named ``part-<shard>-<i>.parquet``."""
    from tdigest_spark.sources.sequence_table import ensure_iceberg_metadata

    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    shards = min(GEN_PROCESSES, shape.files)
    per = [shape.files // shards + (i < shape.files % shards) for i in range(shards)]
    jobs = [
        (str(path), i, shard_seed(seed, i), per[i], shape.rows_per_file, shape.vocab)
        for i in range(shards)
    ]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(shards) as pool:
        shard_files = pool.map(_gen_shard, jobs)
    for i, files in enumerate(shard_files):
        for j, f in enumerate(files):
            Path(f).rename(path / f"part-{i:02d}-{j:05d}.parquet")
        shutil.rmtree(path / f"_shard{i:02d}")
    return ensure_iceberg_metadata(path)


def data_digest(path: Path) -> str:
    """sha256 over the names and bytes of a table's parquet files."""
    h = hashlib.sha256()
    for f in sorted(path.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()


@dataclass
class SeqExact:
    """Exact distributions of a sequence table (DuckDB over the files)."""

    tok_values: np.ndarray  # sorted distinct token ids
    tok_counts: np.ndarray
    ntok_values: np.ndarray
    ntok_counts: np.ndarray
    per_source_tokens: dict[str, int]

    @property
    def tokens(self) -> int:
        return int(self.tok_counts.sum())

    @property
    def rows(self) -> int:
        return int(self.ntok_counts.sum())


def exact_sequence_answers(files: list[str]) -> SeqExact:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        tok = con.execute(
            "SELECT u AS v, COUNT(*) AS c FROM (SELECT UNNEST(tokens) AS u "
            "FROM read_parquet(?)) GROUP BY u ORDER BY u",
            [files],
        ).fetchnumpy()
        ntok = con.execute(
            "SELECT n_tok AS v, COUNT(*) AS c FROM read_parquet(?) "
            "GROUP BY n_tok ORDER BY n_tok",
            [files],
        ).fetchnumpy()
        src = con.execute(
            "SELECT source, SUM(len(tokens)) FROM read_parquet(?) GROUP BY source",
            [files],
        ).fetchall()
    finally:
        con.close()
    return SeqExact(
        tok_values=np.asarray(tok["v"], dtype=np.int64),
        tok_counts=np.asarray(tok["c"], dtype=np.int64),
        ntok_values=np.asarray(ntok["v"], dtype=np.int64),
        ntok_counts=np.asarray(ntok["c"], dtype=np.int64),
        per_source_tokens={str(k): int(v) for k, v in src},
    )


# ---------------------------------------------------------------------------
# relational tables for the query mix (lineitem / events / documents)
# ---------------------------------------------------------------------------

QUERY_TABLES = ("lineitem", "events", "documents")

_WORDS = (
    "the a data spark table query row column scan filter join group agg "
    "window sort hash key value order line part customer stream batch "
    "vector index merge fast slow big small"
).split()
_EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "signup", "error"]


def make_query_tables(out_dir: Path, seed: int, lineitem_rows: int) -> Path:
    """TPC-H-ish ``lineitem`` plus ``events`` and ``documents`` with the
    column types of the repository's test tables, drawn from ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if out_dir.exists():
        shutil.rmtree(out_dir)
    out_dir.mkdir(parents=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 0x51]))
    n = lineitem_rows
    qty = rng.integers(1, 51, n).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, n), 2)
    day0 = np.datetime64("1992-01-01", "us")
    ship = day0 + rng.integers(0, 365 * 10, n).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(1, n // 4 + 2, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(1, 20001, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1001, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * unit, 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n, p=[0.25, 0.5, 0.25])),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    pq.write_table(lineitem, out_dir / "lineitem.parquet")

    ne = max(1000, n // 6)
    users = max(200, ne // 10)
    ts0 = np.datetime64("2024-01-01", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    # a power law over users: a few heavy users, a long tail
    uid = np.minimum((rng.pareto(1.2, ne) * users / 8).astype(np.int64), users * 4)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
            "event_type": pa.array(
                rng.choice(_EVENT_TYPES, ne, p=[0.45, 0.25, 0.12, 0.08, 0.05, 0.05])
            ),
            "value": pa.array(np.round(rng.gamma(2.0, 30.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    pq.write_table(events, out_dir / "events.parquet")

    nd = max(200, n // 60)
    lens = rng.integers(5, 80, nd)
    zipf = 1.0 / np.arange(1, len(_WORDS) + 1) ** 0.9
    widx = rng.choice(len(_WORDS), int(lens.sum()), p=zipf / zipf.sum())
    bounds = np.r_[0, np.cumsum(lens)]
    text = [" ".join(_WORDS[i] for i in widx[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": pa.array(text),
            "lang": pa.array(rng.choice(["en", "de", "fr", "zh"], nd, p=[0.7, 0.1, 0.1, 0.1])),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 5, nd)]),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )
    pq.write_table(documents, out_dir / "documents.parquet")
    return out_dir


def oracle_rows(sf_dir: Path, names: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """DuckDB answers of ``oracle_sql()`` for ``names`` over ``sf_dir``:
    name -> (sorted column names, normalized sorted rows)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    out = {}
    try:
        for t in QUERY_TABLES:
            p = sf_dir / f"{t}.parquet"
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in names:
            rel = con.sql(sql[name])
            cols = sorted(rel.columns)
            idx = [rel.columns.index(c) for c in cols]
            out[name] = (cols, normalize_rows(rel.fetchall(), idx))
    finally:
        con.close()
    return out


def normalize_rows(rows, idx) -> list[tuple]:
    """Rows as sorted tuples of normalized values, with the same rule
    (``tools/verify_oracles.norm``) the repository's oracle gate uses."""
    from verify_oracles import norm

    return sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=repr)
