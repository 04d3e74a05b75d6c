"""Seeded input generator for the benchmark.

Everything the program under test reads comes from here, and only from
the seed: the same seed gives byte-identical files. Pure Python
(`random.Random`) so the stream does not depend on a NumPy version;
parquet goes through pyarrow, whose output is deterministic for a fixed
pyarrow version.

Three inputs:

- Segment-protocol JSON-lines micro-batches (`segment_batches`): track over
  `TRACK_EVENT_NAMES`, page and identify, with nested `context` /
  `properties` / `traits`. Each batch carries a share of redelivered
  events (an earlier message, byte for byte), late events (timestamped
  days before the batch, inside the 31-day dedup window) and bot traffic
  (a crawler user agent).
- The `ingest_merge` warehouse history (`history_events`): Segment events
  dated inside the dedup window before the stream starts.
- A typed `events` table (`write_events_table`) in the schema of the
  repository's testdata, with Zipf-distributed user activity.

A run writes its inputs from a process of their own, before the program
starts, so the generator's memory is not counted in the program's:

    python3 -m perfbench.gen segment --seed 1 --out DIR --history 5000 --batch-events 5000 --batches 5
    python3 -m perfbench.gen events --seed 1 --out DIR/events.parquet --events 10000 --users 1000
"""

from __future__ import annotations

import argparse
import bisect
import itertools
import json
import os
import random
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

# -- Segment stream properties (recorded in perfbench/SPEC.md) ---------------

TYPE_MIX = (("track", 0.60), ("page", 0.25), ("identify", 0.15))
TRACK_EVENT_NAMES = (
    "Product Viewed", "Product Added", "Product Removed", "Cart Viewed",
    "Checkout Started", "Order Completed", "Products Searched", "Signed Up",
)
REDELIVERY_SHARE = 0.05  # an earlier message re-sent unchanged
LATE_SHARE = 0.05  # timestamped 1..LATE_MAX_DAYS days before the batch
LATE_MAX_DAYS = 1
BOT_SHARE = 0.03  # crawler user agent; dropped by the bot-filter function
USERS = 5_000
STREAM_START = datetime(2024, 3, 1, tzinfo=timezone.utc)
HISTORY_DAYS = 1  # history spans the days just before STREAM_START

BROWSER_UAS = (
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/120.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_2) Version/17.2 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
)
BOT_UA = "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"
PATHS = ("/", "/pricing", "/docs", "/blog/launch", "/cart", "/checkout")

# -- typed events table (testdata `events` schema) ---------------------------

EVENT_TYPES = ("signup", "click", "error", "purchase", "view")
ZIPF_S = 1.0
EVENTS_START = datetime(2024, 1, 1)
EVENTS_DAYS = 30


def _iso(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def _segment_event(rng: random.Random, seq: str, ts: datetime) -> dict:
    etype = rng.choices([t for t, _ in TYPE_MIX], [w for _, w in TYPE_MIX])[0]
    uid = rng.randrange(USERS)
    bot = rng.random() < BOT_SHARE
    path = rng.choice(PATHS)
    ev: dict = {
        "messageId": f"{seq}",
        "type": etype,
        "userId": None if rng.random() < 0.3 else f"u{uid}",
        "anonymousId": f"a{uid:05d}",
        "timestamp": _iso(ts),
        "sentAt": _iso(ts + timedelta(milliseconds=rng.randrange(1, 900))),
        "context": {
            "ip": f"{rng.randrange(1, 224)}.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(1, 255)}",
            "userAgent": BOT_UA if bot else rng.choice(BROWSER_UAS),
            "locale": rng.choice(("en-US", "de-DE", "fr-FR")),
            "library": {"name": "jitsu-js", "version": "2.0.1"},
            "page": {
                "path": path,
                "url": f"https://shop.example.com{path}",
                "referrer": rng.choice(("", "https://www.google.com/", "https://news.ycombinator.com/")),
            },
            "campaign": {"source": rng.choice(("google", "newsletter", "direct")), "medium": "cpc"},
        },
    }
    if etype == "track":
        ev["event"] = rng.choice(TRACK_EVENT_NAMES)
        ev["properties"] = {
            "productId": f"p{rng.randrange(500)}",
            "price": round(rng.uniform(1, 300), 2),
            "quantity": rng.randrange(1, 5),
            "cartInfo": {"itemCount": rng.randrange(1, 9), "couponCode": rng.choice((None, "SPRING"))},
        }
    elif etype == "page":
        ev["properties"] = {"title": f"Page {path}", "path": path, "scrollDepth": rng.randrange(101)}
    else:
        ev["traits"] = {
            "email": f"user{uid}@example.com",
            "planName": rng.choice(("free", "pro", "team")),
            "companyInfo": {"employeeCount": rng.randrange(1, 5000)},
        }
    return ev


def history_events(seed: int, n: int) -> list[dict]:
    """`n` Segment events dated uniformly over the HISTORY_DAYS before the
    stream starts (inside the 31-day dedup window)."""
    rng = random.Random(f"history:{seed}")
    span = HISTORY_DAYS * 86_400_000
    start = STREAM_START - timedelta(days=HISTORY_DAYS)
    return [
        _segment_event(rng, f"h{seed}-{i:07d}", start + timedelta(milliseconds=rng.randrange(span)))
        for i in range(n)
    ]


def segment_batches(seed: int, per_batch: int, history: list[dict] = ()) -> Iterator[list[dict]]:
    """Endless micro-batches of `per_batch` events each. Batch b covers one
    hour of stream time; late events fall 1..LATE_MAX_DAYS days earlier;
    redeliveries repeat an earlier event of the stream or of `history`.
    Batch b is the same whatever is drawn after it."""
    rng = random.Random(f"stream:{seed}")
    seen: list[dict] = list(history)
    for b in itertools.count():
        hour = STREAM_START + timedelta(hours=b)
        batch = []
        for i in range(per_batch):
            if seen and rng.random() < REDELIVERY_SHARE:
                batch.append(rng.choice(seen))
                continue
            ts = hour + timedelta(milliseconds=rng.randrange(3_600_000))
            if rng.random() < LATE_SHARE:
                ts -= timedelta(days=rng.randrange(1, LATE_MAX_DAYS + 1))
            batch.append(_segment_event(rng, f"s{seed}-{b:04d}-{i:05d}", ts))
        seen.extend(e for e in batch if e["messageId"].startswith("s"))
        yield batch


def write_jsonl(events: list[dict], path: str) -> int:
    """Write one event per line; returns the bytes written."""
    data = "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def zipf_sampler(rng: random.Random, n: int, s: float = ZIPF_S):
    """Draw ranks 0..n-1 with P(k) proportional to 1/(k+1)^s."""
    cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))
    total = cum[-1]
    return lambda: bisect.bisect_left(cum, rng.random() * total)


def write_events_table(seed: int, n_events: int, n_users: int, path: str) -> None:
    """Typed `events` table with the testdata schema (event_id, ts, user_id,
    event_type, value, props) and Zipf(ZIPF_S) user activity. event_id
    follows timestamp order; user ids are a seeded permutation of the
    Zipf ranks so the heaviest user is not always id 0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"events:{seed}")
    user_of_rank = list(range(n_users))
    rng.shuffle(user_of_rank)
    draw = zipf_sampler(rng, n_users)
    span_us = EVENTS_DAYS * 86_400 * 1_000_000
    ts = sorted(rng.randrange(span_us) for _ in range(n_events))
    table = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": pa.array([EVENTS_START + timedelta(microseconds=t) for t in ts], pa.timestamp("us")),
            "user_id": pa.array([user_of_rank[draw()] for _ in range(n_events)], pa.int64()),
            "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(n_events)], pa.string()),
            "value": pa.array([round(rng.lognormvariate(3.0, 1.0), 2) for _ in range(n_events)], pa.float64()),
            "props": pa.array([json.dumps({"k": rng.randrange(100)}) for _ in range(n_events)], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pq.write_table(table, path)


HISTORY_FILE = "history.json"


def write_segment_inputs(seed: int, out: str, history: int, batch_events: int, batches: int) -> None:
    """HISTORY_FILE and the first `batches` stream batches as
    `b00000.json`, `b00001.json`, ... in `out`. Batch 0 is the warm-up:
    its track events keep only the first event name, so it reaches one
    table of each schema (tracks, pages, identifies, one event table)."""
    os.makedirs(out, exist_ok=True)
    hist = history_events(seed, history)
    write_jsonl(hist, os.path.join(out, HISTORY_FILE))
    schedule = segment_batches(seed, batch_events, hist)
    warmup = [e for e in next(schedule) if e.get("event", TRACK_EVENT_NAMES[0]) == TRACK_EVENT_NAMES[0]]
    write_jsonl(warmup, os.path.join(out, batch_file(0)))
    for b in range(1, batches):
        write_jsonl(next(schedule), os.path.join(out, batch_file(b)))


def batch_file(b: int) -> str:
    return f"b{b:05d}.json"


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description="Write the benchmark's seeded inputs.")
    sub = ap.add_subparsers(dest="what", required=True)
    seg = sub.add_parser("segment")
    seg.add_argument("--history", type=int, required=True)
    seg.add_argument("--batch-events", type=int, required=True)
    seg.add_argument("--batches", type=int, required=True)
    ev = sub.add_parser("events")
    ev.add_argument("--events", type=int, required=True)
    ev.add_argument("--users", type=int, required=True)
    for p in (seg, ev):
        p.add_argument("--seed", type=int, required=True)
        p.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    if a.what == "segment":
        write_segment_inputs(a.seed, a.out, a.history, a.batch_events, a.batches)
    else:
        write_events_table(a.seed, a.events, a.users, a.out)


if __name__ == "__main__":
    main()
