"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and writes its inputs
into a directory before any timing starts; the same seed gives the same
bytes. Each returns the file paths the program under test will read,
plus the ground truth the checks compare against (computed here, in
Python, never by the program under test).

No Spark session here: the generators read the package's schema
registry, panel table and stopword lists, and write with numpy and
pyarrow, so they and their tests run without a JVM.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from purpleair_data_logger_spark import dashboard
from purpleair_data_logger_spark import schema as S
from purpleair_data_logger_spark.operators import text

#: payload header of the multi-sensor ``fields``×``data`` shape: the
#: key plus all 115 accepted fields, in registry order.
PAYLOAD_FIELDS = ["sensor_index"] + [f.api_name for f in S.FIELDS]

#: first instant any generated reading may carry (2024-03-01 00:00 UTC).
EPOCH_BASE = 1709251200
DAY = 86400
POLL_INTERVAL_S = 120

_MODELS = ("PA-II", "PA-II-SD", "PA-I-Indoor", "PA-II-FLEX")
_HARDWARE = ("2.0+BME280+PMSX003-B+PMSX003-A", "2.0+BME280+PMSX003-A")
_FIRMWARE = ("7.02", "7.04", "6.01")


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, separators=(",", ":"))


# ---------------------------------------------------------------------------
# Sensor readings
# ---------------------------------------------------------------------------


class SensorFleet:
    """Per-sensor constants (name, position, firmware, keys) plus a
    reading generator producing every field of one reading per row."""

    def __init__(self, rng: np.random.Generator, n_sensors: int):
        self.index = np.sort(
            rng.choice(np.arange(1000, 1000 + 40 * n_sensors), n_sensors, replace=False)
        ).astype(np.int64)
        names = np.array([f"sensor-{i:06d}" for i in self.index.tolist()], dtype=object)
        self.static: dict[str, np.ndarray] = {
            "name": names,
            "model": np.array(_MODELS, dtype=object)[rng.integers(0, len(_MODELS), n_sensors)],
            "hardware": np.array(_HARDWARE, dtype=object)[rng.integers(0, len(_HARDWARE), n_sensors)],
            "firmware_version": np.array(_FIRMWARE, dtype=object)[rng.integers(0, len(_FIRMWARE), n_sensors)],
            "firmware_upgrade": np.full(n_sensors, "", dtype=object),
            "latitude": np.round(rng.uniform(30.0, 48.0, n_sensors), 5),
            "longitude": np.round(rng.uniform(-123.0, -70.0, n_sensors), 5),
            "altitude": np.round(rng.uniform(0.0, 2500.0, n_sensors), 1),
            "date_created": EPOCH_BASE - rng.integers(DAY, 900 * DAY, n_sensors),
            "last_modified": EPOCH_BASE - rng.integers(0, DAY, n_sensors),
        }
        for k in ("primary_key_a", "secondary_key_a", "primary_key_b", "secondary_key_b"):
            keys = [f"{v:016X}" for v in rng.integers(0, 2**62, n_sensors).tolist()]
            self.static[k] = np.array(keys, dtype=object)

    def readings(
        self, rng: np.random.Generator, rows: np.ndarray, stamps: np.ndarray
    ) -> dict[str, np.ndarray]:
        """Columns (api names) for readings of sensors ``rows``
        (positions into this fleet) taken at ``stamps`` (epoch s),
        ``data_time_stamp`` included."""
        n = len(rows)
        cols: dict[str, np.ndarray] = {"sensor_index": self.index[rows], "data_time_stamp": stamps}
        for f in S.FIELDS:
            name = f.api_name
            if name in self.static:
                cols[name] = self.static[name][rows]
            elif name == "last_seen":
                cols[name] = stamps - rng.integers(0, 60, n)
            elif f.type_tag == S.INT:
                cols[name] = rng.integers(0, 1000, n)
            elif f.type_tag == S.DOUBLE:
                cols[name] = np.round(rng.uniform(0.0, 500.0, n), 2)
            else:  # pragma: no cover - registry has no other free field
                raise ValueError(f"no generator for field {name!r}")
        return cols


def poll_payload(stamp: int, cols: dict[str, np.ndarray]) -> dict:
    """A multi-sensor API response (``fields`` header + ``data`` rows)."""
    data = [list(r) for r in zip(*(cols[f].tolist() for f in PAYLOAD_FIELDS))]
    return {
        "api_version": "V1.0.11-0.0.49",
        "time_stamp": stamp + 3,
        "data_time_stamp": stamp,
        "max_age": 604800,
        "firmware_default_version": "7.02",
        "fields": PAYLOAD_FIELDS,
        "data": data,
    }


# ---------------------------------------------------------------------------
# poll_dashboard
# ---------------------------------------------------------------------------

#: sensors in the fleet; commit cost is flat from 50 to 2,000 sensors,
#: and the payloads are generated during set-up
N_SENSORS = 1000
#: the bulk backfill spans the longest panel range, so every range reads
#: stored data; the store is partitioned by day, so short ranges prune
BACKFILL_DAYS = 7
#: one backfilled reading per sensor per this many seconds; panel cost
#: is the same at 1800, 3600 and 7200 s, and the coarsest builds fastest
BACKFILL_STEP_S = 7200
#: leading cycles that run untimed before the clock starts
WARMUP_OPS = 1
#: every ``REDELIVER_EVERY``-th timed cycle, from the second on,
#: re-delivers an earlier payload: a fixed share at fixed positions, so
#: runs that time the same number of cycles do the same work.
REDELIVER_EVERY = 5

#: Grafana-style bucket intervals; a panel uses the smallest that keeps
#: it at or under ``_MAX_POINTS`` buckets.
_INTERVALS = (60, 120, 300, 600, 900, 1800, 3600, 7200, 14400, 21600, 43200, 86400)
_MAX_POINTS = 500
_RANGES = (6 * 3600, 12 * 3600, DAY, 2 * DAY, 3 * DAY, 7 * DAY)
#: one dashboard refresh: the sensor directory (the template variable),
#: this many panels, and the full reading of one sensor-day; a warm-up
#: refresh runs one panel
REFRESH_PANELS = 4
#: share of the fleet each poll reports, as the API omits stale sensors
POLL_SHARE = 0.95


def grafana_interval(range_s: int) -> int:
    for iv in _INTERVALS:
        if range_s / iv <= _MAX_POINTS:
            return iv
    return _INTERVALS[-1]


@dataclass
class DashboardQuery:
    kind: str  # "panel" | "reconstruct" | "directory"
    panel: str = ""
    sensor_index: int = 0
    start: int = 0
    end: int = 0
    interval: int = 0
    #: ground truth: panel rows, reading times, or directory entries
    expected: object = None


@dataclass
class SensorInputs:
    backfill_path: str
    #: (epoch, sensor_index) keys of the backfill
    backfill_keys: list[tuple[int, int]]
    payload_paths: list[str]
    #: (epoch, sensor_index) keys carried by each payload
    payload_keys: list[list[tuple[int, int]]]
    payload_bytes: list[int]
    #: payload position per cycle, ``WARMUP_OPS`` warm-up cycles first
    schedule: list[int]
    #: the dashboard refresh that follows each cycle's commit
    refreshes: list[list[DashboardQuery]]

    def redelivered(self, op: int) -> bool:
        return self.schedule[op] in self.schedule[:op]


#: panel name -> the columns whose maxima it shows
PANEL_COLUMNS = {name: cols for name, (_, cols) in dashboard.PANELS.items()}


def _wire_arrow_schema() -> pa.Schema:
    types = {S.INT: pa.int32(), S.DOUBLE: pa.float64(), S.STRING: pa.string(), S.EPOCH_TS: pa.int64()}
    return pa.schema([(f.sql_name, types[f.type_tag]) for f in S.KEY_FIELDS + S.FIELDS])


def gen_poll_dashboard(out_dir: str, seed: int, *, n_ops: int) -> SensorInputs:
    """A bulk backfill (one parquet file in wire form), then ``n_ops``
    cycles: each delivers one multi-sensor poll payload (one fixture
    file per payload; one timed cycle in ``REDELIVER_EVERY`` re-delivers
    a seeded earlier payload) and is followed by a dashboard refresh
    over the data up to that poll: the directory, ``REFRESH_PANELS``
    panels and one sensor-day reconstruction, for Zipf-skewed sensors
    over 6 h-7 d ranges at the Grafana interval. Each poll reports a
    seeded ``POLL_SHARE`` of the fleet."""
    rng = np.random.default_rng([seed, 1])
    fleet = SensorFleet(rng, N_SENSORS)
    start = EPOCH_BASE + int(rng.integers(0, 200)) * DAY
    os.makedirs(out_dir, exist_ok=True)

    steps = BACKFILL_DAYS * DAY // BACKFILL_STEP_S
    stamps = np.tile(start + BACKFILL_STEP_S * np.arange(steps, dtype=np.int64), N_SENSORS)
    back = fleet.readings(rng, np.repeat(np.arange(N_SENSORS), steps), stamps)
    schema = _wire_arrow_schema()
    table = pa.table({n: pa.array(back[_API_NAME[n]], schema.field(n).type) for n in schema.names}, schema=schema)
    backfill_path = os.path.join(out_dir, "backfill.parquet")
    pq.write_table(table, backfill_path, compression="zstd")
    backfill_keys = list(zip(stamps.tolist(), back["sensor_index"].tolist()))

    schedule: list[int] = []
    n_payloads = 0
    for op in range(n_ops):
        if op >= WARMUP_OPS and (op - WARMUP_OPS) % REDELIVER_EVERY == 1:
            schedule.append(int(rng.integers(0, n_payloads)))
        else:
            schedule.append(n_payloads)
            n_payloads += 1
    poll_start = start + BACKFILL_DAYS * DAY
    paths, keys, sizes, parts = [], [], [], [back]
    for p in range(n_payloads):
        stamp = poll_start + p * POLL_INTERVAL_S
        rows = np.sort(rng.choice(N_SENSORS, int(POLL_SHARE * N_SENSORS), replace=False))
        cols = fleet.readings(rng, rows, np.full(len(rows), stamp, dtype=np.int64))
        path = os.path.join(out_dir, f"poll_{p:03d}.json")
        _write_json(path, poll_payload(stamp, cols))
        paths.append(path)
        keys.append([(stamp, s) for s in cols["sensor_index"].tolist()])
        sizes.append(os.path.getsize(path))
        parts.append(cols)

    # Polls arrive in time order and a re-delivery adds nothing, so the
    # data a refresh sees is every reading up to the newest poll so far.
    truth = truth_columns(parts)
    order = rng.permutation(N_SENSORS)
    weights = 1.0 / np.arange(1, N_SENSORS + 1) ** 1.1
    weights /= weights.sum()
    panels = sorted(PANEL_COLUMNS)
    directory = sorted(zip(fleet.index.tolist(), fleet.static["name"].tolist()))

    def sensor() -> int:
        return int(fleet.index[order[rng.choice(N_SENSORS, p=weights)]])

    refreshes = []
    for op in range(n_ops):
        end = poll_start + max(schedule[: op + 1]) * POLL_INTERVAL_S + 60
        queries = [DashboardQuery("directory", expected=directory)]
        for _ in range(REFRESH_PANELS if op >= WARMUP_OPS else 1):
            range_s = int(_RANGES[rng.integers(0, len(_RANGES))])
            q = DashboardQuery("panel", panels[rng.integers(0, len(panels))], sensor(), end - range_s, end, grafana_interval(range_s))
            q.expected = expected_panel(truth, q)
            queries.append(q)
        day = start + int(rng.integers(0, BACKFILL_DAYS + 1)) * DAY
        q = DashboardQuery("reconstruct", sensor_index=sensor(), start=day, end=min(day + DAY, end))
        q.expected = expected_reconstruct(truth, q)
        queries.append(q)
        refreshes.append(queries)
    return SensorInputs(backfill_path, backfill_keys, paths, keys, sizes, schedule, refreshes)


_API_NAME = {f.sql_name: f.api_name for f in S.KEY_FIELDS + S.FIELDS}
_TRUTH_COLUMNS = ["sensor_index", "data_time_stamp"] + sorted({c for cs in PANEL_COLUMNS.values() for c in cs})


def truth_columns(parts: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    """Readings as sql-named numpy columns — the key plus every column a
    panel aggregates — concatenated over ``parts`` (api-named columns)."""
    return {n: np.concatenate([p[_API_NAME[n]] for p in parts]) for n in _TRUTH_COLUMNS}


def _in_range(truth: dict[str, np.ndarray], op: DashboardQuery) -> np.ndarray:
    ts = truth["data_time_stamp"]
    return np.flatnonzero((truth["sensor_index"] == op.sensor_index) & (ts >= op.start) & (ts < op.end))


def expected_panel(truth: dict[str, np.ndarray], op: DashboardQuery) -> list[tuple]:
    """Bucketed per-column maxima for one panel, computed in numpy:
    rows (bucket_epoch, max_col...) ordered by bucket."""
    idx = _in_range(truth, op)
    if not len(idx):
        return []
    idx = idx[np.argsort(truth["data_time_stamp"][idx], kind="stable")]
    buckets = truth["data_time_stamp"][idx] // op.interval * op.interval
    firsts = np.flatnonzero(np.r_[True, buckets[1:] != buckets[:-1]])
    maxima = [np.maximum.reduceat(truth[c][idx], firsts).tolist() for c in PANEL_COLUMNS[op.panel]]
    return [(b, *vals) for b, *vals in zip(buckets[firsts].tolist(), *maxima)]


def expected_reconstruct(truth: dict[str, np.ndarray], op: DashboardQuery) -> list[int]:
    """Reading times of one sensor within [start, end), sorted."""
    return sorted(truth["data_time_stamp"][_in_range(truth, op)].tolist())


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

#: languages the documents are written in; their stopwords make the
#: text layer's language vote detect them
_LANGS = ("de", "en", "fr")
#: documents written from scratch, before the planted copies
N_DOCS = 1500
#: planted near-duplicates (one or two words edited) and exact copies
N_NEAR = 120
N_EXACT = 60
#: documents given one PII-like token each
N_PII = 150
#: embeddings, planted near-duplicate pairs among them, and their width
N_VECTORS = 800
N_VEC_PAIRS = 80
DIM = 64


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Word n-gram set, the same definition as `dedup.shingles`."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - (n - 1), 1))}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def cosine(u, v) -> float:
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    return float(u @ v / (np.sqrt(u @ u) * np.sqrt(v @ v)))


@dataclass
class CorpusInputs:
    docs_path: str
    embeddings_path: str
    texts: dict[int, str]
    vectors: dict[int, list[float]]
    #: planted (a, b) doc pairs with their exact shingle Jaccard
    planted_doc_pairs: dict[tuple[int, int], float]
    #: planted (a, b) vector pairs with their exact cosine
    planted_vec_pairs: dict[tuple[int, int], float]
    #: planted exact duplicates: copy id -> original id
    exact_copies: dict[int, int]
    #: planted PII counts: n_emails, n_phones, n_ipv4
    pii_counts: tuple[int, int, int]
    pii_strings: list[str]


def gen_corpus_curation(out_dir: str, seed: int) -> CorpusInputs:
    """Documents over a Zipf vocabulary with stopwords of three
    languages; planted exact copies, near-duplicates edited to a known
    shingle Jaccard, and PII-like tokens (emails, phones, IPv4) in
    documents outside every planted pair; embeddings with planted
    near-duplicate pairs of known cosine."""
    rng = np.random.default_rng([seed, 3])
    vocab = [f"w{k:04d}" for k in range(3000)]
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    texts: dict[int, str] = {}
    for d in range(N_DOCS):
        n = int(rng.integers(40, 90))
        words = [vocab[k] for k in rng.choice(len(vocab), n, p=zipf)]
        sw = text.LANG_STOPWORDS[_LANGS[d % len(_LANGS)]]
        for pos in rng.choice(n, n // 6, replace=False).tolist():
            words[pos] = sw[int(rng.integers(0, len(sw)))]
        texts[d] = " ".join(words)

    next_id = N_DOCS
    planted_doc_pairs: dict[tuple[int, int], float] = {}
    sources = rng.choice(N_DOCS, N_NEAR + N_EXACT, replace=False).tolist()
    for src in sources[:N_NEAR]:
        words = texts[src].split(" ")
        k = int(rng.integers(1, 3))  # one or two substitutions
        for pos in rng.choice(len(words), k, replace=False).tolist():
            words[pos] = f"edit{int(rng.integers(0, 10**6)):06d}"
        texts[next_id] = " ".join(words)
        planted_doc_pairs[(src, next_id)] = jaccard(texts[src], texts[next_id])
        next_id += 1
    exact_copies = {}
    for src in sources[N_NEAR:]:
        texts[next_id] = texts[src]
        exact_copies[next_id] = src
        planted_doc_pairs[(src, next_id)] = 1.0
        next_id += 1

    in_pairs = {i for pair in planted_doc_pairs for i in pair}
    free = [d for d in range(N_DOCS) if d not in in_pairs]
    pii_strings = []
    n_email = n_phone = n_ip = 0
    for j, d in enumerate(rng.choice(free, N_PII, replace=False).tolist()):
        kind = j % 3
        if kind == 0:
            s = f"user{int(rng.integers(0, 10**6))}@mail{int(rng.integers(0, 99))}.example.org"
            n_email += 1
        elif kind == 1:
            s = f"{int(rng.integers(200, 999))}-{int(rng.integers(200, 999))}-{int(rng.integers(0, 10**4)):04d}"
            n_phone += 1
        else:
            s = ".".join(str(int(x)) for x in rng.integers(1, 255, 4))
            n_ip += 1
        words = texts[d].split(" ")
        words.insert(int(rng.integers(0, len(words))), s)
        texts[d] = " ".join(words)
        pii_strings.append(s)

    vecs = rng.normal(size=(N_VECTORS, DIM)).astype(np.float32)
    planted_vec_pairs: dict[tuple[int, int], float] = {}
    vec_src = rng.choice(N_VECTORS // 2, N_VEC_PAIRS, replace=False)
    vec_dst = N_VECTORS // 2 + rng.choice(N_VECTORS - N_VECTORS // 2, N_VEC_PAIRS, replace=False)
    for a, b in zip(vec_src.tolist(), vec_dst.tolist()):
        noise = rng.normal(scale=float(rng.uniform(0.05, 0.2)), size=DIM).astype(np.float32)
        vecs[b] = vecs[a] + noise
        planted_vec_pairs[(a, b)] = cosine(vecs[a], vecs[b])
    vectors = {i: v.tolist() for i, v in enumerate(vecs)}

    os.makedirs(out_dir, exist_ok=True)
    ids = sorted(texts)
    docs_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array([texts[i] for i in ids], pa.string())}),
        docs_path,
    )
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(list(range(N_VECTORS)), pa.int64()),
                "embedding": pa.array([vectors[i] for i in range(N_VECTORS)], pa.list_(pa.float32())),
            }
        ),
        emb_path,
    )
    return CorpusInputs(
        docs_path,
        emb_path,
        texts,
        vectors,
        planted_doc_pairs,
        planted_vec_pairs,
        exact_copies,
        (n_email, n_phone, n_ip),
        pii_strings,
    )
