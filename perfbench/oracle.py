"""Reference results, computed off the clock with pandas/numpy from the
generated inputs alone.

ETL expectations come straight from the generator's manifest. The
stateful ones are recomputed here as batch computations over the same
events, replaying the micro-batch boundaries the file source uses
(``maxFilesPerTrigger=1``: batch ``b`` reads file ``b``), because the
watermark each batch runs under, and the GCRA state, depend on them.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

US = 1_000_000


def load_events(dir_path: str) -> pd.DataFrame:
    """All files of a stateful input, in file (= batch) order, with
    ``ts_us`` in microseconds and ``batch`` = file number."""
    frames = []
    for b, name in enumerate(sorted(f for f in os.listdir(dir_path) if f.endswith(".parquet"))):
        t = pq.read_table(os.path.join(dir_path, name)).to_pandas()
        t["ts_us"] = t["ts"].astype("int64") // 1000
        t["batch"] = b
        frames.append(t.drop(columns=["ts"]))
    return pd.concat(frames, ignore_index=True)


def late_mask(ev: pd.DataFrame, delay_s: int) -> np.ndarray:
    """Rows a watermarked operator drops: event time at or below the
    watermark of the batch that reads them. The watermark of batch ``b``
    is the largest event time of batches before it minus the delay (Spark
    keeps it in milliseconds); batch 0 runs without one."""
    max_ms = ev.groupby("batch")["ts_us"].max().sort_index() // 1000
    wm_ms = (max_ms.cummax() - delay_s * 1000).shift(1)
    wm_us = ev["batch"].map(wm_ms).to_numpy(dtype=float) * 1000
    return np.nan_to_num(wm_us, nan=-np.inf) >= ev["ts_us"].to_numpy()


def final_watermark_us(ev: pd.DataFrame, delay_s: int) -> int:
    return (int(ev["ts_us"].max()) // 1000 - delay_s * 1000) * 1000


def sessions(ev: pd.DataFrame, gap_s: int, delay_s: int) -> list[tuple]:
    """(user_id, start_us, end_us, n_events) for every session window
    closed by the final watermark: per user, events closer than the gap
    share a session, which ends ``gap`` after its last event."""
    kept = ev[~late_mask(ev, delay_s)].sort_values(["user_id", "ts_us"])
    gap = gap_s * US
    user = kept["user_id"].to_numpy()
    ts = kept["ts_us"].to_numpy()
    new = np.ones(len(ts), dtype=bool)
    new[1:] = (user[1:] != user[:-1]) | (ts[1:] - ts[:-1] >= gap)
    sid = np.cumsum(new)
    g = pd.DataFrame({"sid": sid, "user": user, "ts": ts}).groupby("sid")
    out = g.agg(user=("user", "first"), start=("ts", "min"), end=("ts", "max"), n=("ts", "size"))
    out["end"] += gap
    out = out[out["end"] <= final_watermark_us(ev, delay_s)]
    return sorted(zip(out["user"].tolist(), out["start"].tolist(), out["end"].tolist(), out["n"].tolist()))


def dedup(ev: pd.DataFrame, delay_s: int) -> list[str]:
    """Each payload once: duplicates in the generator fall within the
    dedup horizon of their first copy, so only late rows change the set."""
    return sorted(set(ev.loc[~late_mask(ev, delay_s), "props"]))


def interval_pairs(ev: pd.DataFrame, duration_s: int, delay_s: int,
                   interval_app: str = "error", point_app: str = "signup") -> np.ndarray:
    """Sorted (error_id, signup_id) pairs with
    ``error.ts <= signup.ts < error.ts + duration``."""
    kept = ev[~late_mask(ev, delay_s)]
    iv = kept[kept["event_type"] == interval_app].sort_values("ts_us")
    pts = kept[kept["event_type"] == point_app]
    iv_ts, iv_id = iv["ts_us"].to_numpy(), iv["event_id"].to_numpy()
    dur = duration_s * US
    pairs = []
    for p_ts, p_id in zip(pts["ts_us"].to_numpy(), pts["event_id"].to_numpy()):
        lo = np.searchsorted(iv_ts, p_ts - dur, side="right")
        hi = np.searchsorted(iv_ts, p_ts, side="right")
        for e_id in iv_id[lo:hi]:
            pairs.append((e_id, p_id))
    return np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def gcra_admitted(ev: pd.DataFrame, limits: dict[str, int]) -> np.ndarray:
    """Sorted event ids the GCRA limiter admits, replaying batch by
    batch: within a batch each app's events go in (ts, event_id) order;
    the theoretical arrival time carries across batches."""
    admitted = []
    tat: dict[str, int] = {}
    for (_, app), grp in ev.sort_values(["batch", "event_type", "ts_us", "event_id"]).groupby(
        ["batch", "event_type"], sort=True
    ):
        limit = limits.get(app)
        if limit is None:
            admitted.extend(grp["event_id"].tolist())
            continue
        period = 1_000_000_000 // limit
        tau = (limit - 1) * period
        t_app = tat.get(app)
        for t_us, eid in zip(grp["ts_us"].tolist(), grp["event_id"].tolist()):
            t = t_us * 1000
            if t_app is None or t >= t_app - tau:
                t_app = (t if t_app is None else max(t, t_app)) + period
                admitted.append(eid)
        if t_app is not None:
            tat[app] = t_app
    return np.array(sorted(admitted), dtype=np.int64)
