"""Seeded input generator: the only source of every input the benchmark
feeds the program.

Pure numpy + pyarrow, no Spark and no package code, so a change to the
package cannot change what it is measured on. The same seed gives
byte-identical tables and files.

Two kinds of input:

- source tables (``events`` plus the TPC-H-shaped ``region``, ``nation``,
  ``customer``, ``orders`` and ``lineitem``) for the registry queries;
- Kafka-double records ``(value, timestamp, offset)`` whose JSON payload is
  drawn, per event, from four shapes with the fixed shares in ``SHARES``.
  Only new-shape payloads are valid, so the generator knows the exact
  per-(event_type, direction) counts the ingest pipeline must land.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# payload-shape shares: new shape (valid), old shape, 'default', malformed
SHARES = {"new": 0.70, "old": 0.15, "default": 0.10, "malformed": 0.05}
SOURCE_TYPES = ("signup", "purchase", "view", "click", "error")
SWORD_DETAILS = ("wood", "iron", "steel", "gold")
GUILD_DETAILS = ("starter guild", "iron guild")
HEADERS = '"Accept": "*/*", "Host": "Player %d", "User-Agent": "curl/7.47.0"'
# 2024-01-01T00:00:00Z in microseconds
EPOCH_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a draw to one
    input never shifts another."""
    return np.random.default_rng([seed, stream])


def events_table(seed: int, n_events: int, n_users: int, days: int = 30) -> pa.Table:
    """The user-behavior ``events`` table: unique, increasing µs timestamps
    over ``days`` days, uniform users and source event types."""
    rng = _rng(seed, 1)
    span = days * DAY_US
    ts = np.sort(rng.integers(0, span - n_events, n_events)) + np.arange(n_events)
    kinds = np.array(SOURCE_TYPES, dtype=object)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts + EPOCH_US, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": pa.array(kinds[rng.integers(0, len(kinds), n_events)]),
            "value": pa.array(np.round(rng.uniform(0.5, 560.0, n_events), 2)),
            "props": pc.binary_join_element_wise(
                '{"k": ',
                pc.cast(pa.array(rng.integers(0, 100, n_events)), pa.string()),
                "}",
                "",
            ),
        }
    )


def star_tables(seed: int, n_customers: int, n_orders: int, n_lines: int) -> dict:
    """TPC-H-shaped tables for the star-join and window queries. Order
    prices are distinct, so per-customer top-k has no ties."""
    rng = _rng(seed, 2)
    regions = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(regions),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_customers, dtype=np.int64)),
            "c_nationkey": pa.array(
                rng.integers(0, 25, n_customers).astype(np.int32)
            ),
        }
    )
    cents = rng.permutation(n_orders * 3)[:n_orders] + 100_000
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_customers, n_orders)),
            "o_totalprice": pa.array(cents / 100.0),
            "o_orderdate": pa.array(
                rng.integers(0, 7 * 365, n_orders) * DAY_US + 788_918_400_000_000,
                type=pa.timestamp("us"),
            ),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 100_000.0, n_lines), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


LANDED = (
    ("sword_event", "increase"),
    ("sword_event", "reduce"),
    ("guild_event", "increase"),
    ("guild_event", "reduce"),
)


def _payload(shape: int, sword: int, increase: int, detail: int, host: int, cut: int):
    """One JSON payload and the index in ``LANDED`` it lands as (-1 when
    ``validate_events`` must drop it)."""
    headers = HEADERS % host
    if shape in (0, 3):
        etype = "sword_event" if sword else "guild_event"
        direction = "increase" if increase else "reduce"
        name = SWORD_DETAILS[detail] if sword else GUILD_DETAILS[detail % 2]
        v = (
            f'{{"event_type": "{etype}", "direction": "{direction}", '
            f'"event_detail": "{name}", {headers}}}'
        )
        return (v, LANDED.index((etype, direction))) if shape == 0 else (v[:-cut], -1)
    if shape == 1:
        if sword:
            body = f'"purchase_sword", "sword_type": "{SWORD_DETAILS[detail]}"'
        else:
            body = f'"join_guild", "guild_name": "{GUILD_DETAILS[detail % 2]}"'
        return f'{{"event_type": {body}, {headers}}}', -1
    return f'{{"event_type": "default", {headers}}}', -1


def kafka_records(seed: int, events: pa.Table, stream: int = 3):
    """events -> Kafka-double records, and per row the index in ``LANDED``
    of the (event_type, direction) it must land as, or -1 when
    ``validate_events`` must drop it.

    Row order is a seeded permutation of ``events``. Payloads come from a
    few thousand distinct strings, so each distinct one is built once and
    rows index into them."""
    rng = _rng(seed, stream)
    n = events.num_rows
    order = rng.permutation(n)
    draws = (
        rng.choice(4, size=n, p=list(SHARES.values())),  # shape
        (rng.random(n) < 0.5).astype(np.int64),  # sword vs guild
        (rng.random(n) < 0.8).astype(np.int64),  # increase vs reduce
        rng.integers(0, 4, n),  # detail
        events.column("user_id").to_numpy()[order] % 10,  # host
        rng.integers(2, 12, n),  # malformed: characters cut off the end
    )
    code = np.zeros(n, dtype=np.int64)
    for d, radix in zip(draws, (4, 2, 2, 4, 10, 12)):
        code = code * radix + d
    _, first, inverse = np.unique(code, return_index=True, return_inverse=True)
    built = [_payload(*(int(d[i]) for d in draws)) for i in first]
    values = np.array([v for v, _ in built], dtype=object)[inverse]
    labels = np.array([k for _, k in built], dtype=np.int64)[inverse]
    table = pa.table(
        {
            "value": pa.array(values, type=pa.string()),
            "timestamp": pa.array(
                events.column("ts").cast(pa.int64()).to_numpy()[order],
                type=pa.timestamp("us", tz="UTC"),
            ),
            "offset": pa.array(events.column("event_id").to_numpy()[order]),
        }
    )
    return table, labels


def expected_counts(labels: np.ndarray) -> dict:
    """(event_type, direction) -> rows that must land, from row labels."""
    counts = np.bincount(labels[labels >= 0], minlength=len(LANDED))
    return {key: int(c) for key, c in zip(LANDED, counts) if c}


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_partitions(table: pa.Table, out_dir: str, parts: int = 8) -> None:
    """Snappy parquet split over ``parts`` files, as a topic's partitions
    would land, so a reader can spread the slice across cores."""
    os.makedirs(out_dir)
    size = -(-table.num_rows // parts)
    for i in range(parts):
        write_parquet(
            table.slice(i * size, size), os.path.join(out_dir, f"part-{i:02d}.parquet")
        )


def _json_lines(table: pa.Table):
    """Kafka-double rows as JSON lines, the file-stream source's format
    (timestamps at millisecond precision, ISO-8601 UTC). Payloads hold no
    backslashes or control characters, so escaping quotes is enough.
    Returns the joined bytes and each line's start offset (plus the end)."""
    ms = table.column("timestamp").cast(pa.int64()).to_numpy() // 1000
    stamps = np.datetime_as_string(ms.astype("datetime64[ms]"), unit="ms")
    lines = pc.binary_join_element_wise(
        '{"value":"',
        pc.replace_substring(table.column("value"), '"', '\\"'),
        '","timestamp":"',
        pa.array(stamps, type=pa.string()),
        'Z","offset":',
        pc.cast(table.column("offset"), pa.string()),
        "}\n",
        "",
    ).combine_chunks()
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    offsets = offsets[lines.offset : lines.offset + len(lines) + 1]
    return lines.buffers()[2].to_pybytes(), offsets


def json_lines(table: pa.Table) -> bytes:
    data, offsets = _json_lines(table)
    return data[offsets[0] : offsets[-1]]


def write_stream_files(table: pa.Table, rows_per_file: int, out_dir: str) -> list[str]:
    """Consecutive ``rows_per_file`` rows per JSON-lines file, named in
    send order; returns their paths."""
    os.makedirs(out_dir, exist_ok=True)
    data, offsets = _json_lines(table)
    paths = []
    for i in range(table.num_rows // rows_per_file):
        path = os.path.join(out_dir, f"part-{i:05d}.json")
        with open(path, "wb") as fh:
            fh.write(data[offsets[i * rows_per_file] : offsets[(i + 1) * rows_per_file]])
        paths.append(path)
    return paths
