"""Pandas oracle for the benchmark's output checks.

Independent of Spark and the engine: states are recomputed from the
generator's segment files by last-writer-wins on `seq`, and the final state
of every run is also checked with `verify_state` against the generator's
own `expected_final_state_chunked`.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow.parquet as pq

KEY = ["repo", "path"]


#: suffix of the file beside a segment that holds `segment_events` of it
DIGESTS = ".events"


def segment_events(path: str) -> pd.DataFrame:
    """A segment's events with the length and sha256 of each body in place
    of the body."""
    df = pq.read_table(path, columns=["op", "seq", "repo", "path", "lang", "content"]).to_pandas()
    df["clen"] = df["content"].str.len().fillna(0).astype("int64")
    df["sha"] = [
        hashlib.sha256(c.encode()).hexdigest() if isinstance(c, str) else None
        for c in df["content"]
    ]
    return df.drop(columns=["content"])


class PrefixOracle:
    """Table states after the first k delivered chunks of a change log.

    `chunks[i]` lists the segment files of chunk i; a version of the table
    maps to the number of chunks committed at that version. A segment's
    events are read from its DIGESTS file when the generator wrote one.
    """

    def __init__(self, chunks: list[list[str]]):
        frames = []
        for i, paths in enumerate(chunks):
            for p in paths:
                df = pd.read_parquet(p + DIGESTS) if os.path.exists(p + DIGESTS) else segment_events(p)
                df["chunk"] = i
                frames.append(df)
        self.events = pd.concat(frames, ignore_index=True)
        self._cache: dict[int, pd.DataFrame] = {}

    def state(self, k: int) -> pd.DataFrame:
        """Per key, the max-seq event among chunks < k (deletes included),
        indexed by (repo, path)."""
        if k not in self._cache:
            ev = self.events[self.events["chunk"] < k]
            if ev.empty:
                st = ev.set_index(KEY)
            else:
                st = ev.loc[ev.groupby(KEY)["seq"].idxmax()].set_index(KEY)
            st["live"] = st["op"] != "D"
            self._cache[k] = st
        return self._cache[k]

    def live(self, k: int) -> pd.DataFrame:
        st = self.state(k)
        return st[st["live"]]

    # ------------------------------------------------------------ reads

    def expect_point(self, k: int, repo: str, path: str) -> list[tuple]:
        live = self.live(k)
        if (repo, path) not in live.index:
            return []
        r = live.loc[(repo, path)]
        return [(int(r["seq"]), r["sha"])]

    def expect_range(self, k: int, lo: str, hi: str) -> set[tuple]:
        live = self.live(k).reset_index()
        sel = live[(live["repo"] >= lo) & (live["repo"] <= hi)]
        return set(zip(sel["repo"], sel["path"], sel["seq"].astype(int), sel["sha"]))

    def expect_scan(self, k: int) -> tuple[int, int, int]:
        live = self.live(k)
        return len(live), int(live["clen"].sum()), int(live["seq"].sum())

    def expect_sql(self, k: int, lo: str, hi: str) -> set[tuple]:
        live = self.live(k).reset_index()
        sel = live[(live["repo"] >= lo) & (live["repo"] <= hi)]
        g = sel.groupby("lang").agg(n=("seq", "size"), b=("clen", "sum"))
        return {(lang, int(r.n), int(r.b)) for lang, r in g.iterrows()}

    def expect_changes(self, k_from: int, k_to: int) -> set[tuple]:
        """The change set snapshot_diff reports between two states:
        insert (absent or deleted -> live), delete (live -> tombstone),
        update (live -> live with a newer seq)."""
        old, new = self.state(k_from), self.state(k_to)
        j = new[["seq", "live"]].join(
            old[["seq", "live"]], how="left", rsuffix="_old"
        )
        old_live = j["live_old"].eq(True)
        out = set()
        for (repo, path), r, ol in zip(j.index, j.itertuples(index=False), old_live):
            if r.live and not ol:
                out.add(("insert", repo, path, int(r.seq)))
            elif ol and not r.live:
                out.add(("delete", repo, path, int(r.seq)))
            elif ol and r.live and int(r.seq) != int(r.seq_old):
                out.add(("update", repo, path, int(r.seq)))
        return out


def check_read(oracle: PrefixOracle, rec: dict, version_chunks: dict[int, int]) -> str | None:
    """None when the read's collected result matches the oracle state of
    the version it read, else a short reason."""
    kind, a, res = rec["type"], rec["args"], rec["result"]
    if kind == "changes":
        if a["from"] not in version_chunks or rec["version"] not in version_chunks:
            return f"unmapped versions {a['from']}..{rec['version']}"
        exp = oracle.expect_changes(version_chunks[a["from"]], version_chunks[rec["version"]])
        got = set(map(tuple, res))
    else:
        if rec["version"] not in version_chunks:
            return f"unmapped version {rec['version']}"
        k = version_chunks[rec["version"]]
        if kind == "point":
            exp, got = oracle.expect_point(k, a["repo"], a["path"]), list(map(tuple, res))
        elif kind == "range":
            exp, got = oracle.expect_range(k, a["lo"], a["hi"]), set(map(tuple, res))
        elif kind == "scan":
            exp, got = oracle.expect_scan(k), tuple(res)
        elif kind == "sql":
            exp, got = oracle.expect_sql(k, a["lo"], a["hi"]), set(map(tuple, res))
        else:
            return f"unknown read type {kind}"
    if got != exp:
        return f"{kind} mismatch: got {len(got)} rows, expected {len(exp)}"
    return None
