"""The CDC history the benchmark replays: MaxScale JSON lines derived
from the sf0.1 `events` table (data/events_sf0.1.csv.gz).

The key is `user_id`.  Each event row becomes one binlog transaction on
table `bench.events`, with its own GTID sequence:

* key absent (never seen, or deleted) and a non-`error` row: `insert`;
* key present and a non-`error` row: `update_before` (old image) and
  `update_after` (new image), event_number 1 and 2 of one transaction;
* key present and an `error` row: `delete` (old image);
* key absent and an `error` row: no binlog event (a DELETE that matches
  no row writes none).

The seed picks the row of the event table the history starts at; the
walk wraps round the table.  A history holds exactly the number of DML
lines asked for: an update pair that would overshoot by one line is
left out and the walk goes on to the next one-line event.

`replicate` makes the changelog volume the way graft.ScaleUp scales
`events`: copy r shifts sequences past the previous copy and moves
user ids into a fresh range.
"""
import csv
import gzip
import json
import os
import random
import time

DATABASE = "bench"
TABLE = "events"
DOMAIN = 0
SERVER_ID = 3000
FIRST_SEQUENCE = 1000
USER_SHIFT = 1_000_000

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "events_sf0.1.csv.gz")


def _field(name, avro, real_type, length=-1):
    return {"name": name, "type": ["null", avro], "real_type": real_type,
            "length": length}


SCHEMA = {
    "namespace": "MaxScaleChangeDataSchema.avro", "type": "record",
    "name": "ChangeRecord", "table": TABLE, "database": DATABASE,
    "version": 1, "gtid": f"{DOMAIN}-{SERVER_ID}-{FIRST_SEQUENCE}",
    "fields": [
        {"name": "domain", "type": "int"},
        {"name": "server_id", "type": "int"},
        {"name": "sequence", "type": "int"},
        {"name": "event_number", "type": "int"},
        {"name": "timestamp", "type": "int"},
        {"name": "event_type", "type": {
            "type": "enum", "name": "EVENT_TYPES",
            "symbols": ["insert", "update_before", "update_after",
                        "delete"]}},
        _field("user_id", "int", "int"),
        _field("event_id", "long", "bigint"),
        _field("kind", "string", "varchar", 16),
        _field("value", "double", "double"),
        _field("props", "string", "varchar", 64),
        _field("event_time", "string", "datetime", 26),
    ]}
SCHEMA_LINE = json.dumps(SCHEMA)


def load_events(path=DATA):
    """Rows (event_id, ts_us, user_id, event_type, value, k) in event_id
    order."""
    rows = []
    ts = 0
    with gzip.open(path, "rt", encoding="utf-8", newline="") as f:
        r = csv.reader(f)
        next(r)
        for i, (dts, uid, et, val, k) in enumerate(r):
            ts += int(dts)
            rows.append((i, ts, int(uid), et, float(val), int(k)))
    return rows


class History:
    """DML records (sequence, event_number, event_type, image) in binlog
    order, where image = (user_id, event_id, kind, value, k, ts_us)."""

    def __init__(self, records):
        self.records = records

    def lines(self):
        return [_render(*r) for r in self.records]

    def fold(self):
        """user_id -> (sequence, value) of the key's last insert or
        update_after; a key whose last event is a delete is absent."""
        state = {}
        for seq, _num, etype, image in self.records:
            if etype in ("insert", "update_after"):
                state[image[0]] = (seq, image[3])
            elif etype == "delete":
                state.pop(image[0], None)
        return state

    def changelog(self):
        """The (sequence, event_number, event_type, user_id) of every
        DML line."""
        return [(seq, num, et, image[0])
                for seq, num, et, image in self.records]


def build(events, seed, n_lines):
    start = random.Random(seed).randrange(len(events))
    records = []
    current = {}
    seq = FIRST_SEQUENCE
    i = start
    while len(records) < n_lines:
        eid, ts, uid, et, val, k = events[i % len(events)]
        i += 1
        image = (uid, eid, et, val, k, ts)
        old = current.get(uid)
        if old is None:
            if et == "error":
                continue
            tx = [("insert", image)]
            current[uid] = image
        elif et == "error":
            tx = [("delete", old)]
            del current[uid]
        else:
            if len(records) + 2 > n_lines:
                continue
            tx = [("update_before", old), ("update_after", image)]
            current[uid] = image
        seq += 1
        for num, (etype, img) in enumerate(tx, start=1):
            records.append((seq, num, etype, img))
    return History(records)


def replicate(history, copies):
    span = max(r[0] for r in history.records) - FIRST_SEQUENCE + 1
    out = []
    for c in range(copies):
        for seq, num, et, img in history.records:
            out.append((seq + c * span, num, et,
                        (img[0] + c * USER_SHIFT,) + img[1:]))
    return History(out)


_HEAD = ('{"domain": %d, "server_id": %d, "sequence": %%d, '
         '"event_number": %%d, "timestamp": %%d, "event_type": "%%s", '
         '"table_name": "%s", "table_schema": "%s", '
         % (DOMAIN, SERVER_ID, TABLE, DATABASE))
_IMAGE = ('"user_id": %d, "event_id": %d, "kind": "%s", "value": %s, '
          '"props": "{\\"k\\": %d}", "event_time": "%s.%06d"}')


def _render(seq, num, etype, image):
    uid, eid, kind, value, k, ts_us = image
    secs, micros = divmod(ts_us, 1_000_000)
    when = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(secs))
    return (_HEAD % (seq, num, secs, etype)
            + _IMAGE % (uid, eid, kind, repr(value), k, when, micros))
