"""The benchmark's workloads. Each is a closed loop in one process: one
writer call, then the reader's fixed batch, repeated until the run's time is
up. Inputs come only from the seed; every output is checked against an
independent answer (the pure-pandas oracle in ``tests/oracle.py``, or a
from-scratch corpus cut of the same head)."""

from __future__ import annotations

import functools
import glob
import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .trace import Tracer, median


@dataclass
class Result:
    """What one workload run measured. Timings are lists of samples."""

    setup: dict[str, float] = field(default_factory=dict)
    #: timed samples per kind ("write", "read", "scan", "changes", "scrape"),
    #: each tagged with the cycle it was taken in
    samples: dict[str, list[tuple[int, float]]] = field(default_factory=dict)
    cycle: int = 0
    items_written: int = 0
    bytes_written: int = 0
    payload_bytes: int = 0
    stored_bytes: int = 0
    live_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    loop_start: float = 0.0
    per_epoch: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def add(self, kind: str, dt: float) -> None:
        self.samples.setdefault(kind, []).append((self.cycle, dt))

    def times(self, kind: str) -> list[float]:
        return [dt for _, dt in self.samples.get(kind, [])]

    def per_cycle(self, kind: str) -> list[float]:
        """Mean of each whole cycle's samples (a cycle still open when the
        run ended is left out)."""
        by: dict[int, list[float]] = {}
        for c, dt in self.samples.get(kind, []):
            if c < self.cycle:
                by.setdefault(c, []).append(dt)
        return [sum(v) / len(v) for _, v in sorted(by.items())]

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a mismatch fails the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith(".crc")
    )


# ---------------------------------------------------------------------------
# ingest: replay a generated CDC stream epoch by epoch (MOR or COW)
# ---------------------------------------------------------------------------

#: generator and loop parameters of the ingest workloads (also recorded in
#: perfbench/records.json). ``min_cycles`` whole cycles are measured however
#: short --seconds is. A MOR cycle (two commits, each followed by the reader
#: batch) takes ~15 s on 4 cores and the session start and JIT warm-up
#: ~20-30 s, so two cycles keep a run near a minute. The MOR stream is one
#: warm-up epoch (schema v1) and two cycles of two epochs that carry the
#: schema's v1 -> v2 -> v3 changes.
INGEST = {
    "mor_trickle_reads": dict(
        mode="mor", events=15_000, epochs=5, buckets=16, compact_layers=2, reads=True,
        min_cycles=2,
    ),
    "cow_backfill": dict(
        mode="cow", events=60_000, epochs=12, buckets=16, compact_layers=None, reads=False,
        min_cycles=2,
    ),
}
#: untimed warm-up epochs applied before the clock starts
WARM_EPOCHS = 1


def _payload(df: pd.DataFrame) -> np.ndarray:
    """Bytes of key + content per event row (content NULL for deletes)."""
    return (
        df["repo"].str.len().to_numpy()
        + df["path"].str.len().to_numpy()
        + df["content"].fillna("").str.len().to_numpy()
    )


def _key_mix(events: pd.DataFrame, rng: np.random.Generator) -> list[tuple[str, str]]:
    """Fixed lookup keys: one hot-repo key, one cold key, one key the stream
    deletes at least once, and one ghost key (never inserted, only deleted)."""
    from bbc_news_etl_pipeline_spark.fixtures.generator import HOT_REPO

    real = events[events["repo"] != "org_ghost/repo_ghost"]
    hot = real[real["repo"] == HOT_REPO][["repo", "path"]].drop_duplicates()
    cold = real[real["repo"] != HOT_REPO][["repo", "path"]].drop_duplicates()
    dels = real[real["op"] == "delete"][["repo", "path"]].drop_duplicates()
    ghost = events[events["repo"] == "org_ghost/repo_ghost"][["repo", "path"]]

    picks = []
    for frame in (hot, cold, dels, ghost):
        if len(frame):
            r = frame.iloc[int(rng.integers(0, len(frame)))]
            picks.append((r["repo"], r["path"]))
    return picks


def _digest(rows: pd.DataFrame) -> str:
    """Order-insensitive digest over (repo, path, lsn, content_sha256)."""
    import hashlib

    h = hashlib.sha256()
    for r in rows.sort_values(["repo", "path"]).itertuples(index=False):
        h.update(f"{r.repo}|{r.path}|{int(r.lsn)}|{r.content_sha256 or ''}\n".encode())
    return h.hexdigest()


def _oracle_state(events: pd.DataFrame, seq_hi: int) -> pd.DataFrame:
    from tests.oracle import sequential_replay

    return sequential_replay(events[events["arrival_seq"] <= seq_hi])


def _manifest_facts(lake, manifest: dict, seen: set[str]) -> dict:
    """File/layer counts of one committed manifest, and the bytes of the
    data files it is the first to reference (added to ``seen``)."""
    buckets = manifest["buckets"]
    new_bytes = 0
    for entries in buckets.values():
        for e in entries:
            if e["path"] not in seen:
                seen.add(e["path"])
                new_bytes += os.path.getsize(os.path.join(lake.root, e["path"]))
    layers = [
        len({e.get("layer", i) for i, e in enumerate(v)}) for v in buckets.values()
    ]
    return {
        "epoch": manifest["epoch"],
        "compaction": (manifest.get("counts") or {}).get("mode") == "compact",
        "files_live": sum(len(v) for v in buckets.values()),
        "files_per_bucket_max": max((len(v) for v in buckets.values()), default=0),
        "layers_per_bucket_max": max(layers, default=0),
        "bytes_written": new_bytes,
        "buckets_written": (manifest.get("counts") or {}).get("buckets_written", 0),
        "live_file_bytes": sum(
            os.path.getsize(os.path.join(lake.root, e["path"]))
            for v in buckets.values()
            for e in v
        ),
    }


def _reader_batch(spark, tracer: Tracer, lake, log, events, keys, state, prev_state,
                  prev_epoch, head, res: Result) -> None:
    """The fixed read batch after a commit, each result checked against the
    oracle state at the epoch it read."""
    from bbc_news_etl_pipeline_spark.observability import prometheus_text
    from tests.oracle import content_sha256

    live = state.set_index(["repo", "path"])
    for repo, path in keys:
        with tracer.span("lake.read_key"):
            rows, dt = _timed(
                lambda: lake.read_key(spark, repo, path)
                .select("lsn", "content_sha256")
                .collect()
            )
        res.add("read", dt)
        want = live.loc[(repo, path)] if (repo, path) in live.index else None
        got = [(r["lsn"], r["content_sha256"]) for r in rows]
        res.check(
            got == ([] if want is None else [(int(want["lsn"]), content_sha256(want["content"]))]),
            f"read_key {repo}/{path} at epoch {head['epoch']}: {got}",
        )

    with tracer.span("lake.read_state"):
        n, dt = _timed(lambda: lake.read_state(spark).count())
    res.add("scan", dt)
    res.check(n == len(state), f"read_state count {n} != oracle {len(state)}")

    if prev_epoch is not None:
        with tracer.span("lake.read_changes"):
            rows, dt = _timed(
                lambda: lake.read_changes(spark, log, prev_epoch)
                .select("repo", "path", "change", "lsn")
                .collect()
            )
        res.add("changes", dt)
        lo = lake.manifest(prev_epoch)["seq_hi"]
        window = events[(events["arrival_seq"] > lo) & (events["arrival_seq"] <= head["seq_hi"])]
        touched = set(zip(window["repo"], window["path"]))
        was_live = set(zip(prev_state["repo"], prev_state["path"]))
        got = {(r["repo"], r["path"]): (r["change"], r["lsn"]) for r in rows}
        ok = set(got) <= touched and len(got) == len(rows)
        for k in touched:
            if k in live.index:
                ok &= got.get(k) == ("upsert", int(live.loc[k]["lsn"]))
            elif k in was_live:
                ok &= got.get(k, ("",))[0] == "delete"
            else:
                ok &= got.get(k, ("delete",))[0] == "delete"
        res.check(ok, f"read_changes {prev_epoch}->{head['epoch']}")

    with tracer.span("observability.scrape"):
        text, dt = _timed(lambda: prometheus_text(lake))
    res.add("scrape", dt)
    vals = dict(
        line.split(" ", 1) for line in text.splitlines() if line and not line.startswith("#")
    )
    arrived = int((events["arrival_seq"] <= head["seq_hi"]).sum())
    res.check(
        int(vals.get("cdc_events_applied_total", -1)) == arrived
        and int(vals.get("cdc_epochs_committed_total", -1)) == len(lake.committed_epochs()),
        f"scrape counters {vals.get('cdc_events_applied_total')} != {arrived}",
    )


def run_ingest(spark, seed: int, seconds: float, work: str, tracer: Tracer, name: str) -> Result:
    from bbc_news_etl_pipeline_spark.fixtures import generator as G
    from bbc_news_etl_pipeline_spark.sources.event_log import EventLog
    from bbc_news_etl_pipeline_spark.sources.lake import LakeTable
    from bbc_news_etl_pipeline_spark.streaming import replay as R
    from tests.oracle import content_sha256

    p = INGEST[name]
    res = Result()
    rng = np.random.default_rng(seed)

    t0 = time.perf_counter()
    events = G.generate_events(G.StreamSpec(p["events"], p["epochs"], seed=seed))
    segments = G.write_event_log(events, os.path.join(work, "log"))
    res.setup["generator.stream_s"] = time.perf_counter() - t0
    res.layer["event_log.bytes_per_epoch"] = median(
        [_dir_bytes(os.path.join(work, "log", s["file"])) for s in segments]
    )
    keys = _key_mix(events, rng)
    payload = _payload(events)
    lake = LakeTable(os.path.join(work, "lake"), n_buckets=p["buckets"])
    log = EventLog(os.path.join(work, "log"))
    seen: set[str] = set()
    # oracle state at the previous and the current head, for the reader
    heads = {"prev": (None, pd.DataFrame(columns=["repo", "path"])), "cur": (None, None), "batches": 0}

    def write(r: Result, timed: bool) -> tuple[bool, bool]:
        """One writer call: an epoch, plus any in-loop compaction.
        Returns (applied an epoch, committed a compaction)."""
        tr = tracer if timed else Tracer(spark, False)
        before = lake.committed_epochs()
        with tr.span("replay.epoch_call") as call:
            out, dt = _timed(lambda: R.replay(
                spark, log.log_dir, lake.root, n_buckets=p["buckets"], max_epochs=1,
                mode=p["mode"], auto_compact_layers=p["compact_layers"],
            ))
        if not out.epochs:
            return False, False
        ep = out.epochs[0]
        window = (events["arrival_seq"] > ep.seq_lo) & (events["arrival_seq"] <= ep.seq_hi)
        r.check(not ep.skipped, f"epoch {ep.epoch} skipped by the fence")
        r.check(ep.n_events == int(window.sum()), f"epoch {ep.epoch} applied {ep.n_events}")
        compacted = False
        for e in (e for e in lake.committed_epochs() if e not in before):
            facts = _manifest_facts(lake, lake.manifest(e), seen)
            facts.update(wall_s=dt, work=call["work"] if call else None)
            compacted |= facts["compaction"]
            r.bytes_written += facts["bytes_written"]
            r.per_epoch.append(facts)
        if timed:
            r.add("write", dt)
            r.items_written += ep.n_events
            r.payload_bytes += int(payload[window.to_numpy()].sum())
        head = lake.current_manifest()
        heads["prev"] = heads["cur"] if heads["cur"][0] is not None else heads["prev"]
        heads["cur"] = (head, _oracle_state(events, head["seq_hi"]) if p["reads"] else None)
        return True, compacted

    def read(r: Result, timed: bool) -> None:
        """The reader batch; its point lookup takes the key mix's classes
        (hot, cold, deleted, ghost) in turn, so that two compaction cycles
        read every class once, on a layered and on a compacted head."""
        (head, state), (prev, prev_state) = heads["cur"], heads["prev"]
        i = heads["batches"] % len(keys)
        heads["batches"] += 1
        _reader_batch(
            spark, tracer if timed else Tracer(spark, False), lake, log, events,
            keys[i:i + 1], state, prev_state,
            prev["epoch"] if prev else None, head, r,
        )

    # warm-up, untimed: the stream's first epoch and (MOR) one reader
    # batch, so JIT, codegen and Python worker start-up are paid before the
    # clock starts. One epoch leaves every bucket at one layer, the state a
    # compaction also leaves, so the timed loop starts at a cycle boundary.
    t0 = time.perf_counter()
    warm = Result()
    for _ in range(WARM_EPOCHS):
        write(warm, timed=False)
    if p["reads"]:
        read(warm, timed=False)
    res.attempted, res.failed, res.errors = warm.attempted, warm.failed, warm.errors
    res.setup["session.warmup_s"] = time.perf_counter() - t0

    tracer.wrap(R, "apply_epoch", "replay.apply_epoch")
    tracer.wrap(type(lake), "commit", "lake.commit")
    tracer.wrap(type(lake), "compact_if_over", "lake.compact_if_over")
    tracer.wrap(
        type(lake), "read_resolved", "lake.read_resolved",
        on_call=lambda rec, a, kw, out: rec.update(
            files=sum(len(v) for v in (kw.get("manifest") or {}).get("buckets", {}).values())
        ),
    )
    tracer.wrap(type(log), "read_range", "event_log.read_range")
    tracer.count_calls(type(lake), "manifest", "lake.manifest_reads")
    tracer.harvest_stage_timings(R)
    res.loop_start = time.perf_counter()
    t_end = res.loop_start + seconds
    # time-boxed, but the loop only ends after a whole cycle: on MOR a
    # cycle ends with the call whose epoch triggered a compaction, on COW it
    # is one call. Timings are reported per cycle, so write_amp and the
    # plain/compacting mix do not depend on how many epochs fitted in.
    try:
        while True:
            applied, compacted = write(res, timed=True)
            if not applied:
                break
            if p["reads"]:
                read(res, timed=True)
            if compacted or not p["compact_layers"]:
                res.cycle += 1
                if res.cycle >= p["min_cycles"] and time.perf_counter() >= t_end:
                    break
    finally:
        tracer.close()

    # final state: the whole head against the oracle, as the digest the
    # DuckDB check in the verify notes computes (key, lsn, content hash)
    head = lake.current_manifest()
    state = _oracle_state(events, head["seq_hi"])
    got = lake.read_state(spark).select("repo", "path", "lsn", "content_sha256").toPandas()
    want = state.assign(content_sha256=[content_sha256(c) for c in state["content"]])
    res.check(_digest(got) == _digest(want), "head digest != oracle digest")
    res.stored_bytes = _manifest_facts(lake, head, set(seen))["live_file_bytes"]
    res.live_bytes = int(_payload(state).sum())
    return res


# ---------------------------------------------------------------------------
# corpus_refresh: incremental dedup refresh of a previous cut over a delta
# ---------------------------------------------------------------------------

#: corpus generator parameters, measured on the sf0.1 contract corpus
#: (documents.parquet: 5,000 docs; see perfbench/records.json): 30 words
#: drawn uniformly, 10-100 tokens per doc, 5% of the docs a copy of another
#: doc with " dup" appended. The delta moduli are bench.py's.
CORPUS = dict(
    docs=5000,
    words=(
        "spark window merge table column vector stream value data small join filter "
        "big group hash customer sort order slow line part fast row the agg key query "
        "a scan batch"
    ).split(),
    tokens=(10, 100),
    langs={"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14},
    dup_share=0.05,
    del_mod=29,
    upd_mod=17,
)
STORES = ("sketches", "pairs", "clusters", "retained")
#: whole refresh cycles a run measures however short --seconds is. One: a
#: refresh is ~90 Spark jobs (~11 s on 4 cores), and the session start and
#: cold previous cut already take ~35 s of the run's budget.
REFRESHES_MIN = 1
#: the corpus reader repeats its batch (re-index, then the searches) this
#: often after each refresh, so one refresh still yields several samples
READ_ROUNDS = 2


def make_documents(seed: int) -> pd.DataFrame:
    """Seeded documents in the measured shape of the contract corpus. A copy
    always copies an original, never another copy (as in sf0.1), so every
    cluster is a star of diameter <= 2 and the cluster-resolution rounds, and
    with them the refresh cost, do not depend on the seed."""
    rng = np.random.default_rng(seed)
    n = CORPUS["docs"]
    words = np.array(CORPUS["words"])
    lo, hi = CORPUS["tokens"]
    texts = [" ".join(words[rng.integers(0, len(words), int(k))])
             for k in rng.integers(lo, hi + 1, n)]
    copies = rng.choice(n, int(round(n * CORPUS["dup_share"])), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for c, src in zip(copies, rng.choice(originals, len(copies))):
        texts[c] = texts[src] + " dup"
    langs = rng.choice(list(CORPUS["langs"]), n, p=list(CORPUS["langs"].values()))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs})


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _sorted_frame(path: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return _sorted(pq.read_table(path).to_pandas())


def run_corpus(spark, seed: int, seconds: float, work: str, tracer: Tracer) -> Result:
    from pyspark.sql import functions as F

    from bbc_news_etl_pipeline_spark.operators import corpus_incremental as CI
    from bbc_news_etl_pipeline_spark.operators import dedup as D
    from bbc_news_etl_pipeline_spark.operators import search as S
    from bbc_news_etl_pipeline_spark.util import BROADCAST_KEYS_MAX

    from . import corpus_oracle as oracle

    res = Result()
    t0 = time.perf_counter()
    docs_pd = make_documents(seed)
    docs_pd.to_parquet(os.path.join(work, "documents.parquet"))
    res.setup["generator.stream_s"] = time.perf_counter() - t0

    # the delta is built the way bench.py builds its sf1 refresh delta:
    # doc_id % 29 deleted, % 17 updated (the previous cut saw those texts
    # token-reversed), about 9% of the corpus in all
    cur = spark.read.parquet(os.path.join(work, "documents.parquet"))
    dummy = [F.lit("r").alias("repo"), F.lit("p").alias("path")]
    deleted = F.col("doc_id") % CORPUS["del_mod"] == 0
    updated = (F.col("doc_id") % CORPUS["upd_mod"] == 0) & ~deleted
    prev_docs = cur.select(
        "doc_id",
        F.when(updated, F.concat_ws(" ", F.reverse(F.split(F.col("text"), " "))))
        .otherwise(F.col("text")).alias("text"),
        *dummy, "lang",
    )
    head_docs = cur.where(~deleted).select("doc_id", "text", *dummy, "lang")
    delta = cur.where(deleted | updated).select(
        "doc_id", (~deleted).alias("alive"), "text", *dummy, "lang"
    )
    ids = docs_pd["doc_id"].to_numpy()
    is_del = ids % CORPUS["del_mod"] == 0
    is_upd = (ids % CORPUS["upd_mod"] == 0) & ~is_del
    n_delta = int((is_del | is_upd).sum())
    text_len = docs_pd["text"].str.len().to_numpy()
    res.payload_bytes = int(text_len[is_upd].sum())

    def mat(df, name):
        df.write.mode("overwrite").parquet(os.path.join(work, name))
        return spark.read.parquet(os.path.join(work, name))

    def full_cut(docs, prefix):
        pairs = mat(D.near_dup_pairs_lsh(docs), prefix + "pairs")
        clusters = mat(D.duplicate_clusters(None, pairs=pairs), prefix + "clusters")
        losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        return {
            "sketches": mat(D.corpus_sketches(docs), prefix + "sketches"),
            "pairs": pairs,
            "clusters": clusters,
            "retained": mat(docs.join(losers, "doc_id", "left_anti"), prefix + "retained"),
        }

    # the same inputs as pandas frames, for the pure-Python cuts
    head_pd = docs_pd[~is_del].assign(repo="r", path="p")[["doc_id", "text", "repo", "path", "lang"]]
    prev_pd = docs_pd.assign(repo="r", path="p")[["doc_id", "text", "repo", "path", "lang"]]
    prev_pd.loc[is_upd, "text"] = [" ".join(t.split(" ")[::-1]) for t in prev_pd.loc[is_upd, "text"]]

    # previous cut (the refresh's input state; as the session's first dedup
    # pass it also pays the warm-up, with one search over it), checked
    # against the pure-Python cut of the same documents. The traced run also
    # times the engine's from-scratch cut of the head (the refresh-speedup
    # reference) and checks it the same way.
    def check_cut(prefix: str, cut: dict, what: str) -> None:
        for s in STORES:
            got = _sorted_frame(os.path.join(work, prefix + s))
            res.check(got.equals(cut[s]), f"{what} {s} != pure-Python cut")

    t0 = time.perf_counter()
    prev = full_cut(prev_docs, "prev_")
    prev["doc_ids"] = mat(prev_docs.select("doc_id"), "prev_doc_ids")
    prev_index = mat(S.trigram_index(prev["retained"]), "prev_index")
    S.substring_search(prev["retained"], "spark dup", prev_index).collect()
    res.setup["session.warmup_s"] = time.perf_counter() - t0
    check_cut("prev_", {s: _sorted(f) for s, f in oracle.full_cut(prev_pd).items()}, "previous cut")
    # what every refresh must reproduce: the from-scratch cut of the head
    want = {s: _sorted(f) for s, f in oracle.full_cut(head_pd).items()}
    if tracer.enabled:
        t0 = time.perf_counter()
        full_cut(head_docs, "full_")
        res.layer["corpus.full_cut_s"] = time.perf_counter() - t0
        check_cut("full_", want, "engine full cut")
    old_pairs = set(zip(*[_sorted_frame(os.path.join(work, "prev_pairs"))[c] for c in ("doc_a", "doc_b")]))

    # search needles: 2-, 3- and 5-word phrases of retained docs, and the
    # copy marker; answers and the index size from the expected store
    rng = np.random.default_rng(seed)
    kept = want["retained"]["text"].tolist()
    needles = ["dup"]
    for w in (2, 3, 5):
        toks = kept[int(rng.integers(0, len(kept)))].split(" ")
        i = int(rng.integers(0, max(1, len(toks) - w + 1)))
        needles.append(" ".join(toks[i:i + w]))
    hits = {
        nd: sorted(int(d) for d, t in zip(want["retained"]["doc_id"], kept) if nd in t)
        for nd in needles
    }
    n_postings = sum(len({t[i:i + 3] for i in range(len(t) - 2)}) for t in kept)

    def refresh(out_dir):
        with tracer.span("corpus.refresh"):
            upd = CI.incremental_corpus_update(
                head_docs, delta, prev["sketches"], prev["pairs"], prev["doc_ids"],
                hint_broadcast=n_delta <= BROADCAST_KEYS_MAX,
                old_clusters=prev["clusters"],
            )
            with tracer.span("corpus.store_write"):
                for s in STORES:
                    upd[s].write.mode("overwrite").parquet(os.path.join(out_dir, s))

    def check_and_read(out_dir, r: Result):
        for s in STORES:
            got = _sorted_frame(os.path.join(out_dir, s))
            r.check(got.equals(want[s]), f"refreshed {s} != from-scratch cut")
        # the reader: re-index the refreshed retained store for search
        # (scan), then run the search batch over it (read)
        retained = spark.read.parquet(os.path.join(out_dir, "retained"))
        index_dir = os.path.join(out_dir, "index")
        for _ in range(READ_ROUNDS):
            with tracer.span("search.trigram_index"):
                _, dt = _timed(lambda: S.trigram_index(retained).write.mode("overwrite")
                               .parquet(index_dir))
            r.add("scan", dt)
            index = spark.read.parquet(index_dir)
            r.check(index.count() == n_postings, "trigram index postings != oracle")
            for needle in needles:
                with tracer.span("search.substring_search"):
                    rows, dt = _timed(lambda: S.substring_search(retained, needle, index).collect())
                r.add("read", dt)
                got = sorted(row["doc_id"] for row in rows)
                r.check(got == hits[needle], f"search {needle!r}: {len(got)} hits")

    res.loop_start = time.perf_counter()
    t_end = res.loop_start + seconds
    k = 0
    while k < REFRESHES_MIN or time.perf_counter() < t_end:
        out_dir = os.path.join(work, f"refresh_{k}")
        _, dt = _timed(lambda: refresh(out_dir))
        res.add("write", dt)
        res.items_written += n_delta
        res.bytes_written += sum(_dir_bytes(os.path.join(out_dir, s)) for s in STORES)
        check_and_read(out_dir, res)
        res.stored_bytes = sum(_dir_bytes(os.path.join(out_dir, s)) for s in STORES)
        if k:
            shutil.rmtree(os.path.join(work, f"refresh_{k - 1}"), ignore_errors=True)
        k += 1
        res.cycle = k

    pairs_now = want["pairs"]
    res.layer["corpus.delta_docs"] = n_delta
    res.layer["corpus.pairs_new"] = sum(
        1 for a, b in zip(pairs_now["doc_a"], pairs_now["doc_b"]) if (a, b) not in old_pairs
    )
    res.payload_bytes *= max(1, k)
    res.live_bytes = int(text_len[~is_del].sum())
    return res


WORKLOADS = {
    "mor_trickle_reads": functools.partial(run_ingest, name="mor_trickle_reads"),
    "cow_backfill": functools.partial(run_ingest, name="cow_backfill"),
    "corpus_refresh": run_corpus,
}
