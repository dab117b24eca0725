"""Event-log workloads: append → replicate → subscribe, closed loop, one client.

Each cycle appends seeded batches with `AvroEventStore.save` (Avro + AEAD),
runs `Replicator.replicate` and `Subscription.run` to completion
(availableNow), and the subscriber decrypts, decodes and projects every
batch into a parquet projection. The run ends with a cold consumer's
`AvroEventStore.load` over the whole topic. All outputs are checked after
the timed loop against the generator's inputs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import latency_summary, median_or_zero, work_units

RECORD = "BenchEvent"
SCHEMA = {
    "type": "record",
    "name": RECORD,
    "fields": [
        {"name": "seq", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}
FIELDS = [f["name"] for f in SCHEMA["fields"]]
KID = "kms://perfbench"
TOPIC = "bench_events"
WARMUP_TOPIC = "warmup_events"

USER_SPACE = 100_000
EVENT_TYPES = ["view", "click", "cart", "purchase", "error"]
EVENT_TYPE_P = [0.55, 0.25, 0.1, 0.05, 0.05]
METADATA_KEYS = ["source", "trace", "region", "tenant"]
OUT_OF_ORDER_SHARE = 0.1
#: seconds of --seconds per ingest cycle (a 50k-event cycle takes about 7 s)
CYCLE_S = 6.0
BASE_TS_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z


#: batch sizes of the appends in one cycle, per ingest workload; the sizes
#: do not depend on the seed, so runs with different seeds do the same work
SHAPES = {
    # the reference replicator's poll.max.rows=100 scale: per-call fixed
    # cost (jobs, trigger start-up, state files, listing) dominates
    "ingest_small": (100, 250, 350, 500),
    # half the 100k-event fixture per append: per-event serde, AES-GCM and
    # parquet encode outweigh the per-call cost
    "ingest_bulk": (50_000,),
}


# ------------------------------------------------------------- generator


class EventGenerator:
    """Seeded event batches. Keys follow a Zipf skew over the user space,
    and the hot ranks map to different users in every cycle (re-keying).
    Timestamps are whole milliseconds; a share of each batch arrives out
    of order. Metadata carries 0-3 non-reserved entries, which the AEAD
    associated data covers."""

    def __init__(self, seed: int):
        self.seed = seed
        self.next_seq = 0
        self.next_ts = BASE_TS_MS

    def batch(self, cycle: int, index: int, n: int) -> pa.Table:
        rng = np.random.default_rng([self.seed % 2**32, cycle, index])
        ranks = np.minimum(rng.zipf(1.3, n), USER_SPACE) - 1
        # odd and not a multiple of 5, so coprime with USER_SPACE: a bijection
        stride, offset = 7919 + 10 * cycle, (cycle * 104_729) % USER_SPACE
        user_id = (ranks * stride + offset) % USER_SPACE
        seq = np.arange(self.next_seq, self.next_seq + n, dtype=np.int64)
        self.next_seq += n
        ts = self.next_ts + np.cumsum(rng.integers(0, 40, n))
        late = rng.random(n) < OUT_OF_ORDER_SHARE
        ts = np.where(late, ts - rng.integers(1, 5_000, n), ts)
        self.next_ts = int(ts.max()) + 1
        event_type = np.array(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P)]
        value = np.round(rng.lognormal(2.0, 1.0, n), 2)
        props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
        n_meta = rng.integers(0, 4, n)
        meta_vals = rng.integers(0, 1 << 31, (n, 3))
        metadata = [
            [(METADATA_KEYS[(j + i) % 4], f"m{meta_vals[i, j]:x}".encode()) for j in range(k)]
            for i, k in enumerate(n_meta)
        ]
        return pa.table(
            {
                "key": pa.array([f"user-{u}" for u in user_id], pa.string()),
                "timestamp": pa.array(ts, pa.timestamp("ms", tz="UTC")),
                "metadata": pa.array(metadata, pa.map_(pa.string(), pa.binary())),
                "seq": pa.array(seq, pa.int64()),
                "user_id": pa.array(user_id, pa.int64()),
                "event_type": pa.array(event_type, pa.string()),
                "value": pa.array(value, pa.float64()),
                "props": pa.array(props, pa.string()),
            }
        )


# ---------------------------------------------------------------- pipeline


class Pipeline:
    """One store root with its replicator, subscription and projection."""

    def __init__(self, spark, root: str, seed: int, tracer):
        from event_store_spark.avro import LocalSchemaRegistry
        from event_store_spark.core.avro_store import AvroEventStore
        from event_store_spark.core.state import OffsetsTable, ProgressStore
        from event_store_spark.crypto import EventEncryptor
        from event_store_spark.streaming import Replicator, Subscription

        self.spark = spark
        self.tracer = tracer
        self.registry = LocalSchemaRegistry()
        self.schema_id = self.registry.register(SCHEMA)
        key = np.random.default_rng([seed % 2**32, 0xAEAD]).bytes(32)
        self.keys = {KID: key}
        self.encryptor = EventEncryptor(dict(self.keys))
        self.store = AvroEventStore(spark, f"{root}/store", self.registry, self.encryptor)
        self.progress = ProgressStore(f"{root}/progress.json")
        self.replicator = Replicator(
            self.store, f"{root}/replica", self.progress, f"{root}/ckpt-replicate"
        )
        self.offsets = OffsetsTable(f"{root}/offsets.json")
        self.subscription = Subscription(self.store, self.offsets, f"{root}/ckpt-subscribe")
        self.deliver_root = f"{root}/delivered"
        self.processor_s: list[float] = []

    def processor(self, topic: str):
        from pyspark.sql import functions as F

        from event_store_spark.avro.spark import from_confluent_avro

        def project(df, batch_id: int) -> None:
            t0 = time.perf_counter()
            plain = self.encryptor.decrypt_df(df)
            out = plain.select(
                "lsn",
                "id",
                F.col("key"),
                F.unix_millis(F.col("timestamp").cast("timestamp_ltz")).alias("ts_ms"),
                F.map_filter("metadata", lambda k, _: k != "kid").alias("metadata"),
                from_confluent_avro(F.col("data"), SCHEMA, self.schema_id).alias("p"),
            ).select("lsn", "id", "key", "ts_ms", "metadata", "p.*")
            out.write.mode("overwrite").parquet(f"{self.deliver_root}/{topic}/batch={batch_id:08d}")
            self.processor_s.append(time.perf_counter() - t0)

        return project

    def save(self, topic: str, df, cycle: int):
        with self.tracer.span("core.save", op_id=cycle):
            return self.store.save(topic, df, RECORD, encryption_key=KID)

    def _stream(self, kind: str, start, cycle: int):
        with self.tracer.span(f"streaming.{kind}", op_id=cycle) as span:
            q = start()
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"{kind} query failed: {q.exception()}")
        if span is not None:
            self.tracer.count_group_jobs(span, str(q.runId))
            progress = q.recentProgress
            span["batches"] = len(progress)
            span["useful_batches"] = sum(1 for p in progress if p.numInputRows > 0)
            for key in ("latestOffset", "queryPlanning", "addBatch", "walCommit"):
                span[key] = sum(p.durationMs.get(key, 0) for p in progress)
        return span

    def replicate(self, topic: str, cycle: int) -> None:
        self._stream("replicate", lambda: self.replicator.replicate(topic), cycle)

    def subscribe(self, topic: str, cycle: int) -> None:
        n_before = len(self.processor_s)
        span = self._stream(
            "subscribe", lambda: self.subscription.run(topic, self.processor(topic)), cycle
        )
        if span is not None:
            span["processor_s"] = sum(self.processor_s[n_before:])


# ------------------------------------------------------------------ checks


def _read_dir(path: str) -> pa.Table:
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def check_delivery(pipe: Pipeline, topic: str, batches: list[dict]) -> set[int]:
    """Indexes of batches not delivered exactly once with the generator's
    content, or not replicated exactly once in commit order."""
    bad: set[int] = set()
    expected = {}
    for i, b in enumerate(batches):
        t = b["table"]
        columns = [t.column(c).to_pylist() for c in ("seq", "key", "metadata", *FIELDS[1:])]
        ts_ms = t.column("timestamp").cast(pa.int64()).to_pylist()
        for seq, key, md, *fields, ts in zip(*columns, ts_ms):
            expected[seq] = (i, b["lsn"], key, ts, sorted(md), fields)

    delivered = _read_dir(f"{pipe.deliver_root}/{topic}")
    seen: dict[int, tuple] = {}
    if delivered is not None:
        cols = {c: delivered.column(c).to_pylist() for c in delivered.column_names}
        for r in range(delivered.num_rows):
            seq = cols["seq"][r]
            if seq not in expected:
                return set(range(len(batches)))  # an event nobody appended
            i, lsn, key, ts, md, fields = expected[seq]
            if seq in seen:
                bad.add(i)  # delivered twice
            got = (
                bytes(cols["key"][r]).decode(),
                cols["ts_ms"][r],
                sorted(cols["metadata"][r] or []),
                [cols[f][r] for f in FIELDS[1:]],
            )
            want = (key, ts, md, fields)
            if got != want or cols["lsn"][r] != lsn:
                bad.add(i)
            seen[seq] = (i, cols["lsn"][r], cols["id"][r])
    for seq, (i, *_rest) in expected.items():
        if seq not in seen:
            bad.add(i)

    # replica: every delivered (lsn, id) exactly once, batch directories in
    # ascending commit order, rows sorted within each file
    replica_root = pipe.replicator.target_path(topic)
    pairs: list[tuple[int, int]] = []
    dirs = sorted(
        (d for d in os.listdir(replica_root) if d.startswith("cursor=")),
        key=lambda d: tuple(int(x) for x in d[len("cursor="):].split("_")),
    ) if os.path.isdir(replica_root) else []
    prev_max = (-1, -1)
    ordered = True
    for d in dirs:
        dir_pairs = []
        for f in sorted(os.listdir(os.path.join(replica_root, d))):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(replica_root, d, f), columns=["lsn", "id"])
            fp = list(zip(t.column("lsn").to_pylist(), t.column("id").to_pylist()))
            ordered &= fp == sorted(fp)
            dir_pairs.extend(fp)
        if dir_pairs:
            ordered &= min(dir_pairs) > prev_max
            prev_max = max(dir_pairs)
        pairs.extend(dir_pairs)
    by_pair = {(lsn, id_): i for i, lsn, id_ in seen.values()}
    counts: dict[tuple[int, int], int] = {}
    for p in pairs:
        counts[p] = counts.get(p, 0) + 1
    for p, i in by_pair.items():
        if counts.get(p) != 1:
            bad.add(i)
    if not ordered or len(pairs) != len(expected) or set(counts) != set(by_pair):
        bad.update(range(len(batches)))  # order or extra rows: nothing is attributable
    final = max(by_pair) if by_pair else None
    if final is not None:
        committed = pipe.progress.last_cursor(topic)
        consumed = pipe.offsets.get_cursor(topic)
        if committed is None or (committed.lsn, committed.id) != final:
            bad.update(range(len(batches)))
        if consumed is None or (consumed.lsn, consumed.id) != final:
            bad.update(range(len(batches)))
    return bad


def expected_payloads(batches: list[dict]) -> dict[int, list]:
    """seq → the generator's payload fields."""
    want = {}
    for b in batches:
        t = b["table"]
        for row in zip(*(t.column(c).to_pylist() for c in FIELDS)):
            want[row[0]] = list(row[1:])
    return want


def check_load(loaded, want: dict[int, list]) -> bool:
    """The cold consumer's decoded payloads equal the generator's."""
    if len(loaded) != len(want):
        return False
    got = loaded[FIELDS].itertuples(index=False, name=None)
    return all(want.get(r[0]) == list(r[1:]) for r in got)


# ----------------------------------------------------------------- workload


def cycle_once(pipe: Pipeline, gen: EventGenerator, sizes: tuple[int, ...], cycle: int, topic: str):
    """One closed-loop cycle; returns (batches, save_starts, t_replicated,
    t_delivered)."""
    tables = [gen.batch(cycle, j, n) for j, n in enumerate(sizes)]
    frames = [pipe.spark.createDataFrame(t) for t in tables]
    batches, starts = [], []
    for table, df in zip(tables, frames):
        starts.append(time.perf_counter())
        cursor = pipe.save(topic, df, cycle)
        batches.append({"table": table, "lsn": cursor.lsn})
    pipe.replicate(topic, cycle)
    t_rep = time.perf_counter()
    pipe.subscribe(topic, cycle)
    t_del = time.perf_counter()
    return batches, starts, t_rep, t_del


def warmup(pipe: Pipeline, seed: int) -> None:
    """One cycle on its own topic, so Python workers, codecs and streaming
    classes are loaded before anything is timed."""
    gen = EventGenerator(seed + 1_000_003)
    pipe.save(WARMUP_TOPIC, pipe.spark.createDataFrame(gen.batch(0, 0, 200)), -1)
    pipe.replicate(WARMUP_TOPIC, -1)
    pipe.subscribe(WARMUP_TOPIC, -1)


def probe_codecs(pipe: Pipeline, table: pa.Table, tracer) -> None:
    """Traced run only, outside the timed cycle: isolated Avro encode/decode
    and AES-GCM encrypt/decrypt over one cycle's batch, each timed as a
    noop write minus the same noop write without the codec column."""
    from pyspark.sql import functions as F

    from event_store_spark.avro.spark import from_confluent_avro, to_confluent_avro

    n = table.num_rows

    def noop_s(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def record(name: str, with_codec, without_codec) -> None:
        with tracer.span(name, jobs=False) as s:
            s["us_per_event"] = 1e6 * max(0.0, noop_s(with_codec) - noop_s(without_codec)) / n

    cached = []

    def persist(df):
        df = df.persist()
        df.count()
        cached.append(df)
        return df

    try:
        src = persist(pipe.spark.createDataFrame(table))
        framed_plan = src.select(
            F.encode("key", "UTF-8").alias("key"),
            "timestamp",
            "metadata",
            to_confluent_avro(F.struct(*FIELDS), SCHEMA, pipe.schema_id).alias("data"),
        )
        record("avro.encode", framed_plan.select("data"), src.select(*FIELDS))
        framed = persist(framed_plan)
        record(
            "crypto.encrypt",
            pipe.encryptor.encrypt_df(framed, KID).select("data"),
            framed.select("data"),
        )
        encrypted = persist(pipe.encryptor.encrypt_df(framed, KID))
        record(
            "crypto.decrypt",
            pipe.encryptor.decrypt_df(encrypted).select("data"),
            encrypted.select("data"),
        )
        record(
            "avro.decode",
            framed.select(from_confluent_avro(F.col("data"), SCHEMA, pipe.schema_id).alias("p")),
            framed.select("data"),
        )
    finally:
        for df in cached:
            df.unpersist()


def run(pipe: Pipeline, workload: str, seed: int, seconds: float, tracer) -> dict:
    """One closed-loop cycle per CYCLE_S of ``seconds``, then the checks
    and the cold consumers."""
    spark = pipe.spark
    sizes = SHAPES[workload]
    gen = EventGenerator(seed)
    batches: list[dict] = []
    deliver, replicate = [], []
    failed_cycles: set[int] = set()
    busy = 0.0
    for cycle in range(work_units(seconds, CYCLE_S)):
        t0 = time.perf_counter()
        try:
            cb, starts, t_rep, t_del = cycle_once(pipe, gen, sizes, cycle, TOPIC)
        except Exception:  # noqa: BLE001 - a failed cycle is counted, the loop goes on
            traceback.print_exc(file=sys.stderr)
            failed_cycles.add(cycle)
            busy += time.perf_counter() - t0
            continue
        busy += t_del - starts[0]  # generation is the client's, not the program's
        batches.extend(cb)
        deliver.extend(t_del - s for s in starts)
        replicate.extend(t_rep - s for s in starts)
        if tracer.enabled:
            probe_codecs(pipe, cb[0]["table"], tracer)

    n_events = sum(b["table"].num_rows for b in batches)
    attempted = len(batches) + len(failed_cycles) * len(sizes)
    bad = check_delivery(pipe, TOPIC, batches) if batches else set()

    # the cold consumer: a fresh store object over the same root and keys,
    # reading the whole topic from the start
    from event_store_spark.core.avro_store import AvroEventStore
    from event_store_spark.crypto import EventEncryptor

    cold = AvroEventStore(spark, pipe.store.root, pipe.registry, EventEncryptor(dict(pipe.keys)))
    load_s = None
    try:
        with tracer.span("core.load"):
            t0 = time.perf_counter()
            loaded = cold.load(TOPIC, RECORD).select("payload.*").toPandas()
            load_s = time.perf_counter() - t0
        load_ok = check_load(loaded, expected_payloads(batches))
    except Exception:  # noqa: BLE001 - counted as a failed operation
        traceback.print_exc(file=sys.stderr)
        load_ok = False
    attempted += 1
    failed = len(bad) + len(failed_cycles) * len(sizes) + (0 if load_ok else 1)
    if not deliver or load_s is None:
        raise RuntimeError("no ingest cycle or catch-up read completed; nothing to report")

    d, r = latency_summary(deliver), latency_summary(replicate)
    topic_dir = pipe.store.topic_path(TOPIC)
    topic_files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(topic_dir) for f in fs if f.endswith(".parquet")
    ]
    result = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "deliver_p50_s": d["p50"],
            "deliver_tail_s": d["tail"],
            "events_per_s": n_events / busy,
            "catchup_events_per_s": n_events / load_s,
        },
        "detail": {
            "deliver": d,
            "replicate": r,
            "events": n_events,
            "cycles": work_units(seconds, CYCLE_S),
            "busy_s": busy,
            "catchup_s": load_s,
        },
    }
    if tracer.enabled:
        saves = [s for s in tracer.spans if s["name"] == "core.save" and s["op"] >= 0]
        reps = [s for s in tracer.spans if s["name"] == "streaming.replicate" and s["op"] >= 0]
        subs = [s for s in tracer.spans if s["name"] == "streaming.subscribe" and s["op"] >= 0]
        loads = [s for s in tracer.spans if s["name"] == "core.load"]
        layer = {
            "core.save_s": median_or_zero([s["end"] - s["start"] for s in saves]),
            "core.save_jobs": median_or_zero([s["jobs"] for s in saves]),
            "core.files_per_append": len(topic_files) / max(1, len(batches)),
            "core.topic_files": float(len(topic_files)),
            "core.bytes_per_event": sum(os.path.getsize(f) for f in topic_files) / max(1, n_events),
            "core.load_s": median_or_zero([s["end"] - s["start"] for s in loads]),
            "core.load_jobs": median_or_zero([s["jobs"] for s in loads]),
            "streaming.replicate_p50_s": r["p50"],
            "streaming.replicate_tail_s": r["tail"],
        }
        for name in ("avro.encode", "avro.decode", "crypto.encrypt", "crypto.decrypt"):
            layer[f"{name}_us_per_event"] = median_or_zero(tracer.values(name, "us_per_event"))
        for kind, spans in (("replicate", reps), ("subscribe", subs)):
            layer[f"streaming.{kind}_s"] = median_or_zero([s["end"] - s["start"] for s in spans])
            layer[f"streaming.{kind}_jobs"] = median_or_zero([s["jobs"] for s in spans])
            layer[f"streaming.{kind}_batches"] = median_or_zero([s["batches"] for s in spans])
            for key, name in (
                ("latestOffset", "latest_offset_ms"),
                ("queryPlanning", "query_planning_ms"),
                ("addBatch", "add_batch_ms"),
                ("walCommit", "wal_commit_ms"),
            ):
                layer[f"streaming.{kind}.{name}"] = median_or_zero([s[key] for s in spans])
        layer["streaming.subscribe.processor_s"] = median_or_zero([s["processor_s"] for s in subs])
        attempted_batches = sum(s["batches"] for s in reps + subs)
        useful = sum(s["useful_batches"] for s in reps + subs)
        layer["streaming.skipped_batches"] = float(attempted_batches - useful)
        layer["streaming.useful_batch_ratio"] = useful / max(1, attempted_batches)
        result["layer"] = layer
    return result
