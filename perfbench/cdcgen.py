"""Seeded Canal CDC envelope generator and its independent expected result.

The generator emits Canal flat-message JSON lines shaped like the
engine's golden fixture (``sources.cdc.envelope``): INSERT, UPDATE and
DELETE envelopes of ``t_meeting_info`` with multi-row ``data[]`` arrays,
plus DDL and other-table envelopes that the F1 filter must drop.

Invariants that make last-write-wins have exactly one answer:

- the order keys ``(es, ts)`` strictly increase with the envelope
  sequence number, across the whole stream;
- no ``meeting_id`` appears twice in one envelope.

``expected_table`` computes the final sink table in pure Python under
``run_cdc_stream``'s semantics: F1 keeps non-DDL ``t_meeting_info``
envelopes of type INSERT or UPDATE, the newest row per key wins, and
enrichment comes from the 4-row fixture dimension (``DIM`` below, copied
from the fixture definition, not read from the engine); an unknown or
null ``address_id`` fills every dimension column with null.

Run as a script, this module is the open-loop writer for the
``cdc_stream`` workload: it renders every tick's file before the first
tick is due, then on each tick writes the file under a hidden name and
renames it into the source directory. It runs in its own process so it
never shares the engine driver's interpreter lock.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

BASE_MS = 1_577_808_000_000  # 2020-01-01 00:00:00 UTC, epoch millis

# address_id -> (meetingroom_id, meetingroom_name, location_name, city);
# address 4's location has no match, so its location and city are null.
DIM = {
    1: (1, "Room-A", "Building 1", "North"),
    2: (2, "Room-B", "Building 2", "North"),
    3: (3, "Room-C", "Building 3", "South"),
    4: (4, "Room-D", None, None),
}
_NO_DIM = (None, None, None, None)

# Envelope kinds and their weights. DDL and OTHER are INSERT-typed
# envelopes that F1 drops for being DDL or for naming another table.
KINDS = ("INSERT", "UPDATE", "DELETE", "DDL", "OTHER")
KIND_WEIGHTS = (55, 25, 8, 6, 6)
# address_id choices: 99 has no dimension row, None is a null column.
ADDRESSES = (1, 2, 3, 4, 99, None)
ADDRESS_WEIGHTS = (30, 25, 20, 10, 10, 5)

_ROW = (
    '{{"id":"{k}","meeting_code":"M{k:06d}","msite":"site-{s}","mcontent":null,'
    '"attend_count":"{n}","type":"1","status":"1","address_id":{a},"email":null,'
    '"contact_tel":null,"create_user_name":null,"create_user_id":null,"creator_org":null,'
    '"mstart_date":"2020-01-{d:02d} 09:00:00","mend_date":"2020-01-{d:02d} 10:00:00",'
    '"create_time":"2020-01-{d:02d} 08:00:00","update_user":null,"update_time":null,'
    '"company":null,"sign_status":null}}'
)
_ENV = (
    '{{"data":[{rows}],"database":"canal_test","es":{es},"id":{seq},"isDdl":{ddl},'
    '"mysqlType":{{"id":"int(11)","meeting_code":"varchar(64)"}},"old":{old},'
    '"pkNames":["id"],"sql":"{sql}","sqlType":{{"id":4,"meeting_code":12}},'
    '"table":"{table}","ts":{ts},"type":"{typ}"}}'
)
_DDL_SQL = "ALTER TABLE t_meeting_info ADD COLUMN x INT"


class Envelope:
    """One generated envelope: ``rows`` holds ``(meeting_id, address_id,
    day)`` per changed row."""

    __slots__ = ("seq", "kind", "rows")

    def __init__(self, seq: int, kind: str, rows: list[tuple[int, int | None, int]]):
        self.seq = seq
        self.kind = kind
        self.rows = rows

    @property
    def es(self) -> int:
        return BASE_MS + self.seq

    @property
    def ts(self) -> int:
        return BASE_MS + self.seq + 500

    @property
    def kept(self) -> bool:
        """True iff F1 keeps this envelope (INSERT+UPDATE mode)."""
        return self.kind in ("INSERT", "UPDATE")

    def render(self) -> str:
        rows = ",".join(
            _ROW.format(k=k, s=k % 7, n=k % 50 + 1, a="null" if a is None else f'"{a}"', d=d)
            for k, a, d in self.rows
        )
        old = "null"
        if self.kind == "UPDATE":
            old = "[" + ",".join('{"mend_date":"2020-01-01 11:00:00"}' for _ in self.rows) + "]"
        typ = self.kind if self.kind in ("UPDATE", "DELETE") else "INSERT"
        return _ENV.format(
            rows=rows,
            es=self.es,
            seq=self.seq,
            ddl="true" if self.kind == "DDL" else "false",
            old=old,
            sql=_DDL_SQL if self.kind == "DDL" else "",
            table="t_meeting_address" if self.kind == "OTHER" else "t_meeting_info",
            ts=self.ts,
            typ=typ,
        )


def generate(seed: int, n_envelopes: int, key_space: int, max_rows: int, first_seq: int = 1) -> list[Envelope]:
    """``n_envelopes`` envelopes drawn from ``numpy.random.default_rng(seed)``.

    The keys of one envelope are ``k0, k0 + step, ...`` modulo
    ``key_space`` with ``step <= key_space // max_rows``, so no key
    repeats within one ``data[]`` array."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(len(KINDS), size=n_envelopes, p=_p(KIND_WEIGHTS)).tolist()
    n_rows = rng.integers(1, max_rows + 1, size=n_envelopes)
    k0 = rng.integers(0, key_space, size=n_envelopes).tolist()
    step = rng.integers(1, key_space // max_rows + 1, size=n_envelopes).tolist()
    total = int(n_rows.sum())
    addrs = rng.choice(len(ADDRESSES), size=total, p=_p(ADDRESS_WEIGHTS)).tolist()
    days = rng.integers(1, 29, size=total).tolist()
    out = []
    j = 0
    for i, n in enumerate(n_rows.tolist()):
        rows = [
            ((k0[i] + r * step[i]) % key_space + 1, ADDRESSES[addrs[j + r]], days[j + r])
            for r in range(n)
        ]
        j += n
        out.append(Envelope(first_seq + i, KINDS[kinds[i]], rows))
    return out


def _p(weights) -> list[float]:
    return [w / sum(weights) for w in weights]


def expected_table(envelopes) -> dict[int, tuple]:
    """The final sink table, keyed by meeting_id, as tuples in the sink's
    column order: meeting_id, meeting_code, meetingroom_id,
    meetingroom_name, location_name, city, _es, _ts, _op."""
    latest: dict[int, tuple] = {}
    for env in envelopes:
        if env.kept:
            for k, a, _d in env.rows:
                latest[k] = (a, env.es, env.ts, env.kind)
    return {
        k: (k, f"M{k:06d}", *DIM.get(a, _NO_DIM), es, ts, op)
        for k, (a, es, ts, op) in latest.items()
    }


def kept_row_count(envelopes) -> int:
    """Rows that survive F1 and the data[] flatten."""
    return sum(len(e.rows) for e in envelopes if e.kept)


def write_jsonl(path: str, envelopes) -> None:
    with open(path, "w") as fh:
        for env in envelopes:
            fh.write(env.render())
            fh.write("\n")


def stream_ticks(seed: int, n_ticks: int, per_tick: int, key_space: int, max_rows: int) -> list[list[Envelope]]:
    """The cdc_stream input: tick ``i`` holds envelopes
    ``[i * per_tick, (i + 1) * per_tick)`` of one seeded sequence."""
    envs = generate(seed, n_ticks * per_tick, key_space, max_rows)
    return [envs[i * per_tick : (i + 1) * per_tick] for i in range(n_ticks)]


def tick_file(i: int) -> str:
    return f"tick-{i:06d}.jsonl"


def main() -> int:
    ap = argparse.ArgumentParser(description="open-loop Canal JSONL writer for the cdc_stream workload")
    ap.add_argument("--src", required=True, help="source directory the engine watches")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--per-tick", type=int, required=True)
    ap.add_argument("--tick-s", type=float, required=True)
    ap.add_argument("--key-space", type=int, required=True)
    ap.add_argument("--max-rows", type=int, required=True)
    ap.add_argument("--ready", required=True, help="written once rendering is done; holds t0, when tick 0 is due")
    ap.add_argument("--stats", required=True, help="where to write the lateness record (JSON)")
    args = ap.parse_args()

    blobs = [
        "".join(env.render() + "\n" for env in tick)
        for tick in stream_ticks(args.seed, args.ticks, args.per_tick, args.key_space, args.max_rows)
    ]
    t0 = time.time() + 0.5
    with open(args.ready + ".tmp", "w") as fh:
        json.dump({"t0": t0}, fh)
    os.rename(args.ready + ".tmp", args.ready)
    late_s = []
    for i, blob in enumerate(blobs):
        due = t0 + i * args.tick_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        hidden = os.path.join(args.src, "." + tick_file(i))
        with open(hidden, "w") as fh:
            fh.write(blob)
        os.rename(hidden, os.path.join(args.src, tick_file(i)))
        late_s.append(time.time() - due)
    with open(args.stats, "w") as fh:
        json.dump({"late_s": late_s}, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
