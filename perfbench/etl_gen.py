"""Seeded generator for the ``etl_ingest`` workload's source batches.

Each tick is one scheduled batch of newline-delimited IoT-style JSON:
``customerid``/``vehicle``/``category``/``tts`` keys, nested structs
(``location``, ``device.fw``), an exploded ``readings`` array and a
``tags`` array. Customer keys are Zipf-skewed. Every third tick of a
pass adds one new nested field under ``diag``, so the sink's union
schema drifts and the catalog is recreated on that tick.

Pure Python and free of Spark, so the expected sink contents (row
count, partition set, union schema) are computed here, not read back
from the program under test.
"""

from __future__ import annotations

import itertools
import json
import random
from dataclasses import dataclass, field

N_CUSTOMERS = 8
ZIPF_S = 1.2
CATEGORIES = ("fleet", "rental")
SENSORS = ("temp", "pres", "volt", "rpm")
UNITS = {"temp": "C", "pres": "kPa", "volt": "V", "rpm": "1/min"}
DAY_S = 86_400
# 2024-03-01 00:00:00 UTC; tick t writes events of day t.
EPOCH0 = 1_709_251_200
DRIFT_EVERY = 3

# Flattened, camelCased source columns every tick writes, plus the
# columns the pipeline derives (partition columns included).
BASE_COLUMNS = (
    "customerid", "vehicle", "category", "tts",
    "locationLat", "locationLon", "deviceModel", "deviceFwMajor",
    "deviceFwMinor", "readingsSensor", "readingsVal", "readingsMetaUnit",
    "tags",
)
DERIVED_COLUMNS = (
    "row_insert_tsp", "row_insert_date", "year", "month", "day",
)


@dataclass
class Tick:
    """One generated batch and what the sink must hold after it."""

    index: int
    n_records: int
    payload: bytes
    rows: int  # rows after explode_outer of readings and tags
    partitions: set[str] = field(default_factory=set)
    drift_columns: tuple[str, ...] = ()


def _zipf_weights(n: int, s: float) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]


def make_tick(seed: int, tick: int, n_records: int) -> Tick:
    """Batch ``tick`` of a pass under ``seed``: identical bytes for
    identical arguments."""
    rng = random.Random(f"etl:{seed}:{tick}")
    cum = list(itertools.accumulate(_zipf_weights(N_CUSTOMERS, ZIPF_S)))
    customers = [f"c{k:02d}" for k in range(N_CUSTOMERS)]
    drift = tick % DRIFT_EVERY == DRIFT_EVERY - 1
    day0 = EPOCH0 + tick * DAY_S
    lines: list[str] = []
    rows = 0
    partitions: set[str] = set()
    for _ in range(n_records):
        cust = rng.choices(customers, cum_weights=cum)[0]
        vehicle = f"v{cust[1:]}"
        category = rng.choice(CATEGORIES)
        tts = day0 + rng.randrange(DAY_S)
        n_read = rng.choice((0, 1, 2, 3))
        readings = []
        for _ in range(n_read):
            sensor = rng.choice(SENSORS)
            readings.append({
                "sensor": sensor,
                "val": round(rng.uniform(-50.0, 500.0), 3),
                "meta": {"unit": UNITS[sensor]},
            })
        tags = rng.choice((None, ["a"], ["a", "b"]))
        rec = {
            "customerid": cust,
            "vehicle": vehicle,
            "category": category,
            "tts": tts,
            "location": {
                "lat": round(rng.uniform(-60.0, 60.0), 5),
                "lon": round(rng.uniform(-170.0, 170.0), 5),
            },
            "device": {
                "model": f"m{rng.randrange(8)}",
                "fw": {"major": rng.randrange(1, 4), "minor": rng.randrange(10)},
            },
            "readings": readings,
            "tags": tags,
        }
        if drift:
            rec["diag"] = {f"f{tick}": rng.randrange(1000)}
        lines.append(json.dumps(rec))
        rows += max(1, n_read) * max(1, len(tags or ()))
        day = (tts - EPOCH0) // DAY_S + 1  # March, non-zero-padded day
        partitions.add(
            f"customerid={cust}/vehicle={vehicle}/category={category}"
            f"/year=2024/month=3/day={day}"
        )
    return Tick(
        index=tick,
        n_records=n_records,
        payload=("\n".join(lines) + "\n").encode(),
        rows=rows,
        partitions=partitions,
        drift_columns=(f"diagF{tick}",) if drift else (),
    )


@dataclass
class Expected:
    """Cumulative sink contents after a sequence of ticks."""

    rows: int = 0
    partitions: set[str] = field(default_factory=set)
    columns: set[str] = field(
        default_factory=lambda: set(BASE_COLUMNS) | set(DERIVED_COLUMNS)
    )
    archived: set[str] = field(default_factory=set)

    def add(self, tick: Tick, file_name: str) -> None:
        self.rows += tick.rows
        self.partitions |= tick.partitions
        self.columns |= set(tick.drift_columns)
        self.archived.add(file_name)


def check_sink(expected: Expected, observed: dict) -> list[str]:
    """Compare what the sink holds with what the generator wrote.

    ``observed`` has ``rows`` (sink row count), ``partitions`` (raw
    ``SHOW PARTITIONS`` specs), ``columns`` (union schema names) and
    ``archived`` (file names now in the archive dir). Returns one
    message per mismatch; empty means correct.
    """
    errors = []
    if observed["rows"] != expected.rows:
        errors.append(f"rows: sink {observed['rows']} != written {expected.rows}")
    got_parts = set(observed["partitions"])
    if got_parts != expected.partitions:
        missing = sorted(expected.partitions - got_parts)[:2]
        extra = sorted(got_parts - expected.partitions)[:2]
        errors.append(f"partitions: missing {missing} extra {extra}")
    got_cols = set(observed["columns"])
    if got_cols != expected.columns:
        errors.append(
            f"schema: missing {sorted(expected.columns - got_cols)} "
            f"extra {sorted(got_cols - expected.columns)}"
        )
    if set(observed["archived"]) != expected.archived:
        errors.append(
            f"archive: {sorted(observed['archived'])} != {sorted(expected.archived)}"
        )
    return errors
