"""Rebuild or check data/events_sf0.1.csv.gz against a testdata
events.parquet.

The benchmark reads only files inside its checkout, so the event log it
derives the CDC history from is kept here as a compact CSV extract of
the sf0.1 `events` table (100 000 rows, 1 500 users).  Reads the parquet
file with pyarrow:

    # does the committed extract still match the testdata?
    python3 cdcbench/tools/extract_events.py --check <events.parquet>
    # rewrite it
    python3 cdcbench/tools/extract_events.py <events.parquet>

Rows are in event_id order and event_id is the row number, so it is
not stored.  Columns: dts_us (microseconds since the previous row's ts;
the first row's is since the epoch, UTC; ts never decreases with
event_id), user_id, event_type, value, k (the integer of
props = {"k": <k>}).  `ts` may be stored as a timestamp of any unit
with or without a zone; a naive one is read as UTC.
"""
import argparse
import csv
import gzip
import io
import json
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DST = Path(__file__).resolve().parent.parent / "data" / "events_sf0.1.csv.gz"


def render(src):
    t = pq.read_table(src, columns=["event_id", "ts", "user_id",
                                    "event_type", "value", "props"])
    t = t.sort_by("event_id")
    ts = t.column("ts")
    if pa.types.is_timestamp(ts.type):
        ts = pc.cast(ts, pa.timestamp("us", ts.type.tz)).cast(pa.int64())
    cols = [t.column(c).to_pylist()
            for c in ("event_id", "user_id", "event_type", "value", "props")]
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["dts_us", "user_id", "event_type", "value", "k"])
    prev = 0
    for i, (eid, uid, et, val, props, us) in enumerate(
            zip(*cols, ts.to_pylist())):
        assert eid == i and us >= prev, (i, eid, us, prev)
        w.writerow([us - prev, uid, et, repr(val), json.loads(props)["k"]])
        prev = us
    return buf.getvalue(), t.num_rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parquet")
    ap.add_argument("--check", action="store_true",
                    help="compare with the committed extract, write nothing")
    a = ap.parse_args()
    text, n = render(a.parquet)
    if a.check:
        with gzip.open(DST, "rt", encoding="utf-8", newline="") as f:
            same = f.read() == text
        print(f"{DST.name}: {'matches' if same else 'DIFFERS FROM'} "
              f"{a.parquet} ({n} rows)")
        raise SystemExit(0 if same else 1)
    with gzip.GzipFile(DST, "wb", mtime=0) as raw:
        raw.write(text.encode("utf-8"))
    print(f"{n} rows -> {DST}")


if __name__ == "__main__":
    main()
