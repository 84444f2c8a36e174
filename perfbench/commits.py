"""``write_commits``: writes beside reads on one managed ``Base``.

Setup ingests a seeded ``orders`` table with ``Base.from_df``. The timed
loop runs a fixed cycle of ten operations, one of each kind (six writes,
four reads), with seeded parameters. Write keys are drawn from the keys
present at the current version, so every write changes rows. The
benchmark replays each operation on a pandas model of the table; reads are
checked against the model (time-travel reads against the model's snapshot
of that version), and the whole table is checked against it after the
window. A compact and a vacuum run once, after a fixed number of commits.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from sea_serpent_spark import Base

import check
import gen
from measure import dir_files, median

N_ROWS = 15_000
#: checkpoint cadence; small enough that a short run covers several cycles
CHECKPOINT_EVERY = 3
#: the compact + vacuum run after this many timed commits
COMPACT_AT = 5
KEEP_VERSIONS = 6
#: rows each write touches; fixed, so every seed commits the same work
#: (the seed picks which rows and values)
EDIT_ROWS = 150
UPSERT_ROWS = 200
APPEND_ROWS = 20
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
#: one operation of each kind, writes and reads interleaved
CYCLE = ("loc_write", "point_read", "update", "upsert", "filtered_read",
         "delete_rows", "append", "time_travel", "bundle", "fetch_logs")
READS = ("point_read", "filtered_read", "time_travel", "fetch_logs")
WRITES = ("loc_write", "update", "upsert", "delete_rows", "append", "bundle")


class State:
    def __init__(self, ctx, rep: int):
        orders = gen.orders_table(ctx.seed, N_ROWS)
        path = gen.write_tables({"orders": orders}, ctx.path(f"in{rep}"))["orders"]
        self.base = Base(ctx.path(f"base{rep}"), ctx.spark,
                         checkpoint_every=CHECKPOINT_EVERY)
        table = self.base.from_df(ctx.spark.read.parquet(path), "orders")
        self.tdir = os.path.join(self.base.path, "orders")
        self.model = orders.to_pandas()
        self.version = table._version
        self.snapshots = {self.version: self.model}
        self.row_bytes = _files_bytes(table) / max(1, len(self.model))
        self.next_key = int(self.model.o_orderkey.max()) + 1
        self.logged_versions: list[int] = []


def _files_bytes(table) -> int:
    """Bytes of the data files a table version reads."""
    return sum(os.path.getsize(f.replace("file:", "", 1))
               for f in table.df.inputFiles())


def prepare(ctx, rep: int) -> State:
    return State(ctx, rep)


# -- writes: each draws its parameters and returns (write, replay) --------
# ``write(table)`` is the timed store call; ``replay(model)`` applies the
# same edit to the pandas model, outside the timed span.

def _new_key(s: State) -> int:
    s.next_key += 1
    return s.next_key - 1


def _key_range(s: State, rng) -> tuple[int, int]:
    k0 = int(rng.choice(s.model.o_orderkey.to_numpy()))
    return k0, k0 + EDIT_ROWS


def _set_range(m: pd.DataFrame, edits) -> pd.DataFrame:
    m = m.copy()
    for lo, hi, col, v in edits:
        m.loc[(m.o_orderkey >= lo) & (m.o_orderkey < hi), col] = v
    return m


def _loc_write(s, rng):
    lo, hi = _key_range(s, rng)
    price = round(float(rng.uniform(1000, 500000)), 2)

    def write(t):
        t.loc[(t.o_orderkey >= lo) & (t.o_orderkey < hi), "o_totalprice"] = price

    return write, lambda m: _set_range(m, [(lo, hi, "o_totalprice", price)])


def _update(s, rng):
    vals = s.model.o_orderpriority.to_numpy().copy()
    for p in rng.choice(len(vals), EDIT_ROWS, replace=False):
        others = [v for v in gen.PRIORITIES if v != vals[p]]
        vals[p] = others[int(rng.integers(0, len(others)))]
    return (lambda t: t.o_orderpriority.update(list(vals)),
            lambda m: m.assign(o_orderpriority=vals))


def _new_rows(s, rng, n: int) -> pd.DataFrame:
    keys = [_new_key(s) for _ in range(n)]
    return pd.DataFrame({
        "o_orderkey": np.asarray(keys, dtype=np.int64),
        "o_custkey": rng.integers(0, N_ROWS // 10, n).astype(np.int64),
        "o_orderstatus": np.asarray(gen.ORDERSTATUS, dtype=object)[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": pd.to_datetime("1995-01-01")
        + pd.to_timedelta(rng.integers(0, 2400, n), unit="D"),
        "o_orderpriority": np.asarray(gen.PRIORITIES, dtype=object)[rng.integers(0, 5, n)],
    }).astype({"o_orderdate": "datetime64[us]"})


def _upsert(s, rng):
    upd = s.model.iloc[rng.choice(len(s.model), UPSERT_ROWS // 2, replace=False)].copy()
    upd["o_totalprice"] = np.round(rng.uniform(1000, 500000, len(upd)), 2)
    new = _new_rows(s, rng, UPSERT_ROWS - len(upd))
    src = pd.concat([upd, new], ignore_index=True)

    def replay(m):
        m = m.set_index("o_orderkey")
        m.update(upd.set_index("o_orderkey"))
        return pd.concat([m.reset_index()[COLS], new], ignore_index=True)

    return lambda t: t.upsert(src, on="o_orderkey"), replay


def _delete_rows(s, rng):
    keys = [int(k) for k in rng.choice(s.model.o_orderkey.to_numpy(),
                                       EDIT_ROWS, replace=False)]
    return (lambda t: t.delete_rows(t.o_orderkey.isin(keys), skip_confirmation=True),
            lambda m: m[~m.o_orderkey.isin(keys)].reset_index(drop=True))


def _append(s, rng):
    rows = _new_rows(s, rng, APPEND_ROWS)
    return (lambda t: t.append(rows),
            lambda m: pd.concat([m, rows], ignore_index=True))


def _bundle(s, rng):
    edits = []
    for col, vals in (("o_orderstatus", gen.ORDERSTATUS),
                      ("o_totalprice", None),
                      ("o_orderpriority", gen.PRIORITIES)):
        lo, hi = _key_range(s, rng)
        v = (round(float(rng.uniform(1000, 500000)), 2) if vals is None
             else str(vals[int(rng.integers(0, len(vals)))]))
        edits.append((lo, hi, col, v))

    def write(t):
        with t.bundle():
            for lo, hi, col, v in edits:
                t.loc[(t.o_orderkey >= lo) & (t.o_orderkey < hi), col] = v

    return write, lambda m: _set_range(m, edits)


_WRITE_FNS = {"loc_write": _loc_write, "update": _update, "upsert": _upsert,
              "delete_rows": _delete_rows, "append": _append, "bundle": _bundle}


def _changed_rows(before: pd.DataFrame, after: pd.DataFrame) -> int:
    """Rows inserted, deleted or edited between two model states."""
    a = before.set_index("o_orderkey")
    b = after.set_index("o_orderkey")
    common = a.index.intersection(b.index)
    edited = (a.loc[common, COLS[1:]] != b.loc[common, COLS[1:]]).any(axis=1).sum()
    return int(len(a.index.difference(b.index)) + len(b.index.difference(a.index))
               + edited)


# -- reads: each returns (lazy result, expected) -------------------------

def _point_read(s, t, rng):
    k = int(rng.choice(s.model.o_orderkey.to_numpy()))
    return t.loc[t.o_orderkey == k, COLS], s.model[s.model.o_orderkey == k]


def _filtered_read(s, t, rng):
    c = int(rng.integers(0, N_ROWS // 10 - 50))
    m = s.model
    return (t.loc[(t.o_custkey >= c) & (t.o_custkey < c + 50), COLS],
            m[(m.o_custkey >= c) & (m.o_custkey < c + 50)])


def _time_travel(s, t, rng):
    # within the vacuum retention window, so the version is still readable
    kept = [v for v in s.snapshots if s.version - KEEP_VERSIONS < v < s.version]
    v = int(rng.choice(kept)) if kept else s.version
    lo, hi = _key_range(s, rng)
    old = s.base.table("orders", version=v)
    m = s.snapshots[v]
    return (old.loc[(old.o_orderkey >= lo) & (old.o_orderkey < hi), COLS],
            m[(m.o_orderkey >= lo) & (m.o_orderkey < hi)])


def _fetch_logs(s, t, rng):
    """The newest operations, one row each, as the op-log reports them."""
    n = int(rng.integers(1, 4))
    return s.base.fetch_logs("orders", max_entries=n, unpack=False), n


_READ_FNS = {"point_read": _point_read, "filtered_read": _filtered_read,
             "time_travel": _time_travel, "fetch_logs": _fetch_logs}


def _read_ok(kind, got, want, s) -> bool:
    if kind == "fetch_logs":
        ops = set(got.op_id.astype(int))
        return 0 < len(ops) <= want and ops <= set(s.logged_versions)
    return check.same_frame(got, want, COLS)


def _run_op(ctx, s: State, kind: str, rng, rec: dict) -> None:
    with ctx.tracer.span("mutation.open", "table") as sp:
        t = s.base.table("orders")
    rec["open_ms"].append(sp.wall_s * 1000)
    if kind in _READ_FNS:
        with ctx.tracer.span("core", kind) as sp:
            t0 = time.perf_counter()
            lazy, want = _READ_FNS[kind](s, t, rng)
            build_s = time.perf_counter() - t0
            got = lazy.to_frame() if hasattr(lazy, "to_frame") else lazy.toPandas()
        rec["reads"].append((kind, sp, build_s))
        if not _read_ok(kind, got, want, s):
            raise AssertionError(f"{kind} result differs from the replay")
        return
    write, replay = _WRITE_FNS[kind](s, rng)
    before = dir_files(s.tdir) if ctx.traced else None
    with ctx.tracer.span("mutation.commit", kind) as sp:
        write(t)
    model = replay(s.model)
    changed = _changed_rows(s.model, model)
    s.model = model
    prev, s.version = s.version, s.base.table("orders")._version
    s.snapshots[s.version] = model
    s.logged_versions.extend(range(prev + 1, s.version + 1))
    rec["commits"].append((kind, sp, changed))
    if ctx.traced:
        t0 = time.perf_counter()
        after = dir_files(s.tdir)
        rec["bytes"].append(sum(after.values()) - sum(before.values())
                            + sum(before[p] for p in before if p not in after))
        rec["files"].append(len(set(after) - set(before)))
        ctx.tracer.overhead_s += time.perf_counter() - t0
    if changed == 0:
        raise AssertionError(f"{kind} changed no rows")


def warm(ctx, s: State) -> None:
    """One untimed call of each operation type."""
    rng = np.random.default_rng([ctx.seed, 2])
    rec = _new_rec()
    for kind in WRITES + READS:
        _run_op(ctx, s, kind, rng, rec)
    s.base.compact("orders")
    s.version = s.base.table("orders")._version
    s.snapshots[s.version] = s.model


def _new_rec() -> dict:
    return {"open_ms": [], "reads": [], "commits": [], "bytes": [],
            "files": [], "failed": 0, "attempted": 0}


def _attempt(ctx, s: State, kind: str, rng, rec: dict) -> None:
    """One operation; a failure or a wrong result is counted, not dropped."""
    rec["attempted"] += 1
    try:
        _run_op(ctx, s, kind, rng, rec)
    except Exception as e:
        rec["failed"] += 1
        ctx.log(f"FAILED {kind}: {e!r}")
    if ctx.traced:
        ctx.sample_leak()


def _maintain(ctx, s: State, rec: dict, maint: dict) -> None:
    """Compact, then vacuum to the retention window."""
    maint["at"] = len(rec["commits"])
    rec["attempted"] += 2
    try:
        with ctx.tracer.span("mutation", "compact") as sp:
            s.base.compact("orders")
        maint["compact"] = sp.wall_s
        s.version = s.base.table("orders")._version
        s.snapshots[s.version] = s.model
        with ctx.tracer.span("mutation", "vacuum") as sp:
            s.base.vacuum("orders", keep_versions=KEEP_VERSIONS)
        maint["vacuum"] = sp.wall_s
    except Exception as e:
        rec["failed"] += 1
        ctx.log(f"FAILED compact/vacuum: {e!r}")


def measure(ctx, s: State, deadline: float) -> dict:
    rng = np.random.default_rng([ctx.seed, 3])
    rec = _new_rec()
    maint = {}
    t_start = time.perf_counter()
    ops = []
    # whole cycles only, so every run times the same mix of operations
    while time.perf_counter() < deadline:
        for kind in CYCLE:
            ops.append(kind)
            _attempt(ctx, s, kind, rng, rec)
            if len(rec["commits"]) == COMPACT_AT and not maint:
                _maintain(ctx, s, rec, maint)
    elapsed = time.perf_counter() - t_start
    live = _files_bytes(s.base.table("orders"))
    on_disk = sum(dir_files(s.tdir).values())

    commits = rec["commits"]
    lat = [sp.wall_s * 1000 for _, sp, _ in commits]
    ctx.log("# commits " + " ".join(f"{k}={sp.wall_s * 1000:.0f}ms/{c}rows"
                                    for k, sp, c in commits))
    out = {
        "attempted": rec["attempted"], "failed": rec["failed"],
        "latency_ms": lat,
        "throughput": len(commits) / elapsed,
        "elapsed": elapsed,
        "ops": len(ops),
        "units": len(commits),
    }
    if ctx.traced:
        spans = ctx.tracer.spans
        reads = rec["reads"]
        op_spans = [sp for _, sp, _ in commits] + [sp for _, sp, _ in reads]
        opens = rec["open_ms"]
        q = max(1, len(opens) // 5)
        changed = sum(c for _, _, c in commits)
        wall = sum(sp.wall_s for sp in spans if sp.layer != "mutation"
                   or sp.name not in ("compact", "vacuum"))
        layers = {
            f"store.commit_ms_p50.{k}": median(
                [sp.wall_s * 1000 for kind, sp, _ in commits if kind == k])
            for k in WRITES
        }
        post = [sp.wall_s * 1000 for _, sp, _ in commits[maint["at"]:maint["at"] + 1]] \
            if maint else []
        layers.update({
            "core.build_ms_p50": median([b * 1000 for _, _, b in reads]),
            "core.action_ms_p50": median([(sp.wall_s - b) * 1000 for _, sp, b in reads]),
            "core.jobs_per_req": sum(sp.job_count for _, sp, _ in reads) / max(1, len(reads)),
            "core.tasks_per_req": sum(sp.tasks for _, sp, _ in reads) / max(1, len(reads)),
            "core.gap_ms_per_req": sum(sp.gap_ms for _, sp, _ in reads) / max(1, len(reads)),
            "store.read_ms_p50": median([sp.wall_s * 1000 for _, sp, _ in reads]),
            "store.jobs_per_commit": sum(sp.job_count for _, sp, _ in commits)
            / max(1, len(commits)),
            "store.bytes_written_per_commit": sum(rec["bytes"]) / max(1, len(commits)),
            "store.files_written_per_commit": sum(rec["files"]) / max(1, len(commits)),
            "store.write_amp": sum(rec["bytes"]) / max(1.0, changed * s.row_bytes),
            "store.space_amp": on_disk / max(1, live),
            "store.open_ms_p50": median(opens),
            "store.open_ms_growth": (sum(opens[-q:]) / q) / max(1e-9, sum(opens[:q]) / q),
            "store.point_read_ms_p50": median(
                [sp.wall_s * 1000 for k, sp, _ in reads if k == "point_read"]),
            "store.time_travel_ms_p50": median(
                [sp.wall_s * 1000 for k, sp, _ in reads if k == "time_travel"]),
            "store.compact_s": maint.get("compact", 0.0),
            "store.vacuum_s": maint.get("vacuum", 0.0),
            "store.post_compact_commit_ms": post[0] if post else 0.0,
            "store.commit_share": sum(sp.wall_s for _, sp, _ in commits) / max(1e-9, wall),
        })
        layers["split.holds"] = float(layers["store.commit_share"] > 0.5)
        out["layers"] = layers
        out["spans"] = op_spans
    return out


def verify(ctx, s: State, out: dict) -> None:
    """The whole table against the replay, after the window."""
    out["attempted"] += 1
    got = s.base.table("orders").df.select(*COLS).toPandas()
    if not _read_ok("table", got, s.model, s):
        out["failed"] += 1
        ctx.log("FAILED final table state differs from the replay")
