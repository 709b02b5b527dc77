"""Seeded generator of raw price drops in the reference's locked 12-column
prices schema (symbol, as_of_date, open, high, low, close, volume,
fetched_at, source, endpoint, request_id, file_hash).

A *drop* is one parquet file, the unit an uploader lands. It carries, for
every symbol, the bars of its day range plus a look-back re-fetch of the
`lookback` days before it (later `fetched_at`, a share of them with a revised
close), a few late bars (bars held back from earlier drops), and a few
injected DQ violations (a null date, a negative volume). Every injected
violation is also written to `violations.parquet`, the ground truth the
quarantine check compares against.

The same seed and parameters give byte-identical files.
"""
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = pa.schema([
    ("symbol", pa.string()), ("as_of_date", pa.date32()),
    ("open", pa.float64()), ("high", pa.float64()), ("low", pa.float64()),
    ("close", pa.float64()), ("volume", pa.int64()),
    ("fetched_at", pa.timestamp("us", tz="UTC")),
    ("source", pa.string()), ("endpoint", pa.string()),
    ("request_id", pa.string()), ("file_hash", pa.string()),
])

VIOLATION_SCHEMA = pa.schema([
    ("file", pa.string()), ("symbol", pa.string()),
    ("as_of_date", pa.date32()), ("volume", pa.int64()),
    ("fetched_at", pa.timestamp("us", tz="UTC")), ("dq_reason", pa.string()),
])

HERE = os.path.dirname(os.path.abspath(__file__))

# Per-workload parameters, from workloads.json (their only copy; its "about"
# says what each one means). The seed only changes the draws.
WORKLOADS = {w: spec.get("generator", {}) for w, spec in
             json.load(open(os.path.join(HERE, "workloads.json")))["workloads"].items()}

EPOCH = dt.date(2019, 1, 2)


def trading_days(n):
    """The first `n` weekdays from EPOCH."""
    out, d = [], EPOCH
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def tickers(rng, n):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    seen, out = set(), []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        t = "".join(rng.choice(letters, k))
        if t not in seen:
            seen.add(t)
            out.append(t)
    return sorted(out)


class Market:
    """True bars for S symbols over D days; revisions are drawn per drop."""

    def __init__(self, rng, n_symbols, n_days):
        self.symbols = tickers(rng, n_symbols)
        self.days = trading_days(n_days)
        start = rng.uniform(10, 500, n_symbols)
        rets = rng.normal(0.0003, 0.02, (n_symbols, n_days))
        close = np.round(start[:, None] * np.exp(np.cumsum(rets, axis=1)), 2)
        self.close = np.maximum(close, 0.01)
        spread = np.round(self.close * rng.uniform(0.0, 0.03, close.shape), 2)
        self.open = np.round(self.close + rng.normal(0, 1, close.shape) * spread / 2, 2)
        self.high = np.round(np.maximum(self.open, self.close) + spread, 2)
        self.low = np.round(np.maximum(np.minimum(self.open, self.close) - spread, 0.0), 2)
        self.volume = rng.lognormal(13, 1.2, close.shape).astype(np.int64) + 1
        self.symbol_arr = np.array(self.symbols)
        self.day_ordinals = np.array([(x - dt.date(1970, 1, 1)).days for x in self.days])
        self.fetch_base_us = (self.day_ordinals * 86400 + 23 * 3600) * 1_000_000


def drop_table(rng, mkt, cells, fetch_day, revise_mask, null_date_syms):
    """Columns for (symbol index, day index) `cells`, fetched on
    `fetch_day`, plus one null-date row per symbol in `null_date_syms`."""
    nd = np.asarray(null_date_syms, dtype=np.int64)
    s = np.concatenate([cells[:, 0], nd])
    d = np.concatenate([cells[:, 1], np.zeros(len(nd), np.int64)])
    bump = rng.integers(1, 51, len(cells)) * rng.choice([-1, 1], len(cells))
    close = mkt.close[s, d].copy()
    revised = np.maximum(np.round(close[:len(cells)] + bump / 100.0, 2), 0.01)
    close[:len(cells)] = np.where(revise_mask, revised, close[:len(cells)])
    high = np.maximum(mkt.high[s, d], close)
    low = np.minimum(mkt.low[s, d], close)
    days = mkt.day_ordinals[d]
    date_valid = np.arange(len(s)) < len(cells)
    # one fetch per symbol, 0.2 s apart, like the rate-limited fetcher
    fetched = mkt.fetch_base_us[fetch_day] + s * 200_000
    req_ids = np.array(["%032x" % int(x) for x in rng.integers(0, 2**62, len(mkt.symbols))])
    syms = mkt.symbol_arr[s]
    digest = hashlib.sha256()
    for a in (s, d, close, mkt.volume[s, d]):
        digest.update(np.ascontiguousarray(a).tobytes())
    return {
        "symbol": pa.array(syms, pa.string()),
        "as_of_date": pa.array(days.astype(np.int32), pa.date32(),
                               mask=~date_valid),
        "open": pa.array(mkt.open[s, d]), "high": pa.array(high),
        "low": pa.array(low), "close": pa.array(close),
        "volume": mkt.volume[s, d].copy(),
        "fetched_at": pa.array(fetched, pa.timestamp("us", tz="UTC")),
        "source": pa.array(np.full(len(s), "FMP")),
        "endpoint": pa.array(np.full(len(s), "historical-price-full")),
        "request_id": pa.array(req_ids[s]),
        "file_hash": pa.array(np.full(len(s), digest.hexdigest())),
    }


class DropWriter:
    def __init__(self, rng, mkt, p, out):
        self.rng, self.mkt, self.p, self.out = rng, mkt, p, out
        self.violations = []
        # rows, look-back duplicates, revised closes, DQ violations and late
        # bars, summed over the tallied drops
        self.counts = np.zeros(5, np.int64)
        self.tallied = 0

    def write(self, path, days, fetch_day, late_cells, lookback=True, held=None, tally=True):
        """One drop: all symbols over `days`, plus the look-back re-fetch,
        plus `late_cells`, plus injected violations, minus the `held` cells
        (bars that arrive late, in a later drop). `tally` adds the drop to
        the shares; the history and warm-up drops are left out."""
        rng, mkt, p = self.rng, self.mkt, self.p
        n_sym = len(mkt.symbols)
        lo = days[0]
        back = list(range(max(0, lo - p["lookback"]), lo)) if lookback else []
        all_days = back + list(days)
        dd, ss = np.meshgrid(np.asarray(all_days, np.int64), np.arange(n_sym, dtype=np.int64),
                             indexing="ij")
        grid = np.stack([ss.ravel(), dd.ravel()], axis=1)
        if held is not None and len(held):
            code = grid[:, 1] * n_sym + grid[:, 0]
            grid = grid[~np.isin(code, held[:, 1] * n_sym + held[:, 0])]
        is_back = np.isin(grid[:, 1], back)
        revise = is_back & (rng.random(len(grid)) < p["revise_share"])
        if len(late_cells):
            grid = np.vstack([grid, late_cells])
            revise = np.concatenate([revise, np.zeros(len(late_cells), bool)])
        null_syms = rng.integers(0, n_sym, p["null_date"])
        cols = drop_table(rng, mkt, grid, fetch_day, revise, null_syms)
        # negative-volume violations replace bars of the drop's newest day
        newest = np.flatnonzero(grid[:, 1] == days[-1])
        neg = rng.choice(newest, p["neg_volume"], replace=False)
        cols["volume"][neg] = -cols["volume"][neg]
        name = os.path.relpath(path, self.out)
        bad = np.concatenate([neg, np.arange(len(grid), len(grid) + len(null_syms))])
        for i in bad.tolist():
            reason = "volume_non_negative" if i < len(grid) else "date_not_null"
            self.violations.append((name, cols["symbol"][i].as_py(), cols["as_of_date"][i].as_py(),
                                    int(cols["volume"][i]), cols["fetched_at"][i].as_py(), reason))
        cols["volume"] = pa.array(cols["volume"])
        if tally:
            self.tallied += 1
            self.counts += [len(cols["symbol"]), is_back.sum(), revise.sum(), len(bad),
                            len(late_cells)]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table(cols, schema=SCHEMA), path, compression="snappy")
        return len(cols["symbol"])

    def shares(self):
        """Mean rows per tallied drop and the share of those rows that are
        look-back duplicates, revised closes, DQ violations and late bars."""
        rows, back, revised, bad, late = (int(x) for x in self.counts)
        n = self.tallied
        return {"drops": n, "rows_per_drop": rows / n if n else 0,
                "lookback_duplicate_share": back / rows if rows else 0,
                "revised_close_share": revised / rows if rows else 0,
                "dq_violation_share": bad / rows if rows else 0,
                "late_bar_share": late / rows if rows else 0}

    def close(self):
        v = list(zip(*self.violations)) if self.violations else [[]] * 6
        pq.write_table(pa.table(dict(zip(VIOLATION_SCHEMA.names, map(list, v))),
                                schema=VIOLATION_SCHEMA),
                       os.path.join(self.out, "violations.parquet"), compression="snappy")


def held_back(rng, n_sym, day_hi, n):
    """`n` distinct (symbol, day) cells with day < day_hi."""
    flat = rng.choice(n_sym * day_hi, n, replace=False)
    return np.stack([flat % n_sym, flat // n_sym], axis=1).astype(np.int64)


def generate(workload, seed, out, params=None):
    """Write the inputs of `workload` for `seed` under `out`, with the
    workload's parameters or `params`; returns meta."""
    p = WORKLOADS[workload] if params is None else params
    os.makedirs(out, exist_ok=True)
    meta = {"workload": workload, "seed": seed, "params": p, "rows": {}}
    if workload == "query_basket":
        json.dump(meta, open(os.path.join(out, "meta.json"), "w"), indent=1, sort_keys=True)
        return meta
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    if workload == "backfill":
        n_days = p["history_days"] + p["warm_days"]
    else:
        n_days = p["history_days"] + p["waves"]
    mkt = Market(rng, p["symbols"], n_days)
    w = DropWriter(rng, mkt, p, out)
    n_sym = len(mkt.symbols)
    if workload == "backfill":
        # warm-up drop on days after the backfill range, never checked
        warm = list(range(p["history_days"], n_days))
        meta["rows"]["setup/warm.parquet"] = w.write(
            os.path.join(out, "setup", "warm.parquet"), warm, n_days - 1,
            np.zeros((0, 2), np.int64), lookback=False, tally=False)
        chunks = np.array_split(np.arange(p["history_days"]), p["drops"])
        late = held_back(rng, n_sym, len(chunks[0]) - p["lookback"], p["late"] * (p["drops"] - 1))
        w.violations.clear()
        for k, ch in enumerate(chunks):
            # drop k's late bars were held back from drop 0
            lc = late[(k - 1) * p["late"]:k * p["late"]] if k else np.zeros((0, 2), np.int64)
            name = os.path.join("ops", f"d{k:04d}.parquet")
            meta["rows"][name] = w.write(os.path.join(out, name), ch.tolist(), int(ch[-1]), lc,
                                         lookback=k > 0, held=late if k == 0 else None)
    else:
        h = p["history_days"]
        late = held_back(rng, n_sym, h - p["lookback"] - 1, p["late"] * p["waves"])
        name = os.path.join("setup", "h0000.parquet")
        meta["rows"][name] = w.write(os.path.join(out, name), list(range(h)), h - 1,
                                     np.zeros((0, 2), np.int64), lookback=False, held=late,
                                     tally=False)
        sub = "setup" if workload == "analyst_reads" else "ops"
        for k in range(p["waves"]):
            name = os.path.join(sub, f"w{k:04d}.parquet")
            lc = late[k * p["late"]:(k + 1) * p["late"]]
            meta["rows"][name] = w.write(os.path.join(out, name), [h + k], h + k, lc)
    w.close()
    meta["shares"] = w.shares()
    if "reads" in p:
        write_reads(rng, mkt, p, out)
    json.dump(meta, open(os.path.join(out, "meta.json"), "w"), indent=1, sort_keys=True)
    return meta


def write_reads(rng, mkt, p, out):
    """The analyst read mix: one line per read, type + parameters."""
    kinds = sorted(p["read_mix"])
    probs = np.array([p["read_mix"][k] for k in kinds])
    n_days = p["history_days"]  # reads address days every run has landed
    lines = []
    for kind in rng.choice(kinds, p["reads"], p=probs / probs.sum()):
        sym = mkt.symbols[int(rng.integers(0, len(mkt.symbols)))]
        lo = hi = ""
        back = 0
        if kind == "gold_range":
            a = int(rng.integers(0, n_days - 15))
            lo, hi = mkt.days[a].isoformat(), mkt.days[a + int(rng.integers(5, 15))].isoformat()
        elif kind == "top_movers":
            lo = hi = mkt.days[int(rng.integers(n_days - 20, n_days))].isoformat()
        elif kind in ("time_travel", "cdf_range"):
            back = int(rng.integers(1, 4))
        lines.append(f"{kind}\t{sym}\t{lo}\t{hi}\t{back}")
    with open(os.path.join(out, "reads.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
