"""Seeded, single-process input generator for the benchmark.

Every input the system sees is produced here from ``random.Random(seed)``
alone, so one seed always yields byte-identical files. The labels of the
planted anomalies and of the invalid records stay in the benchmark; the
files carry only the columns of ``TRANSACTION_SCHEMA`` (stream events
also carry a ``due_s`` stamp, which the system's explicit schema drops).

Traffic model. Each customer has a personal amount scale, a home city,
daytime habits and preferred channels. Normal amounts are lognormal
around the customer's scale, so most normal rows stay well under the
1,000 large-amount rule and score Low. Planted anomalies (1,500 in
47,500, the reference dataset's ratio) break the customer's own
history: an amount 6-25x their scale, a night-time hour and a city other
than home, mostly by card.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

ANOMALY_SHARE = 1500 / 47500
CHANNELS = ("card", "pos", "mobile_money", "bank_transfer")
USUAL_CITIES = ("Harare", "Bulawayo")
OTHER_CITIES = ("Mutare", "Victoria Falls", "Marondera", "Gweru")
CITIES = USUAL_CITIES + OTHER_CITIES
CSV_HEADER = "timestamp,transaction_id,customer_id,merchant_id,amount,channel,location\n"

# Invalid stream records, by the error ``split_valid_invalid`` gives them.
# (A batch CSV row with a ``missing_amount`` is dropped by the batch plan.)
INVALID_KINDS = ("invalid_id", "invalid_amount", "invalid_timestamp")


@dataclass(frozen=True)
class Customer:
    cid: str
    scale: float
    home: str
    channels: tuple[str, ...]
    peak_hour: int


@dataclass(frozen=True)
class Population:
    customers: tuple[Customer, ...]
    n_merchants: int


@dataclass
class Record:
    """One transaction. ``label`` is 1 for a planted anomaly; ``error``
    names the rejection an invalid record must get (None if valid)."""

    tid: str
    ts: str
    cid: str
    mid: str
    amount: float | None
    channel: str
    location: str
    label: int
    error: str | None = None

    def csv_line(self) -> str:
        amount = "" if self.amount is None else f"{self.amount:.2f}"
        return f"{self.ts},{self.tid},{self.cid},{self.mid},{amount},{self.channel},{self.location}\n"

    def json_line(self, due_s: float) -> str:
        # Hand-rendered JSON: every field is a plain token, so this is
        # the same text json.dumps would give, at a fraction of the cost.
        amount = "null" if self.amount is None else f"{self.amount:.2f}"
        return (
            f'{{"timestamp":"{self.ts}","transaction_id":"{self.tid}",'
            f'"customer_id":"{self.cid}","merchant_id":"{self.mid}",'
            f'"amount":{amount},"channel":"{self.channel}",'
            f'"location":"{self.location}","due_s":{due_s:.3f}}}\n'
        )


def population(seed: int, n_customers: int = 2000, n_merchants: int = 200) -> Population:
    rng = random.Random(f"population:{seed}")
    customers = []
    for i in range(n_customers):
        home = rng.choice(USUAL_CITIES) if rng.random() < 0.85 else rng.choice(OTHER_CITIES)
        channels = tuple(rng.sample(CHANNELS, rng.randint(1, 3)))
        customers.append(
            Customer(
                cid=str(100000 + i),
                scale=math.exp(rng.uniform(math.log(15.0), math.log(300.0))),
                home=home,
                channels=channels,
                peak_hour=rng.randint(9, 19),
            )
        )
    return Population(tuple(customers), n_merchants)


def _timestamp(day: int, hour: int, minute: int, second: int) -> str:
    # 2024-03-01 + day; day < 92 keeps us inside Mar-May 2024.
    month, dom = (3, day + 1) if day < 31 else (4, day - 30) if day < 61 else (5, day - 60)
    return f"2024-{month:02d}-{dom:02d}T{hour:02d}:{minute:02d}:{second:02d}"


def _transaction(rng: random.Random, pop: Population, tid: str, day: int, anomaly: bool) -> Record:
    c = rng.choice(pop.customers)
    mid = str(5000 + rng.randrange(pop.n_merchants))
    if anomaly:
        amount = c.scale * rng.uniform(6.0, 25.0)
        hour = rng.randint(0, 4) if rng.random() < 0.8 else rng.randint(0, 23)
        location = rng.choice([x for x in CITIES if x != c.home])
        channel = "card" if rng.random() < 0.6 else rng.choice(CHANNELS)
    else:
        amount = c.scale * rng.lognormvariate(0.0, 0.35)
        hour = min(22, max(6, int(round(rng.gauss(c.peak_hour, 3.0)))))
        location = c.home if rng.random() < 0.9 else rng.choice(USUAL_CITIES)
        channel = rng.choice(c.channels)
    ts = _timestamp(day, hour, rng.randrange(60), rng.randrange(60))
    return Record(tid, ts, c.cid, mid, round(amount, 2), channel, location, int(anomaly))


def _invalidate(rng: random.Random, r: Record, kind: str) -> Record:
    if kind == "invalid_id":
        r.tid = "x" + r.tid
    elif kind == "invalid_amount":
        r.amount = -r.amount if r.amount else -1.0
    elif kind == "missing_amount":
        r.amount = None
    else:
        r.ts = "not-a-timestamp"
    r.label = 0
    r.error = kind
    return r


def transactions(
    seed: int,
    n: int,
    pop: Population,
    first_id: int = 1,
    days: tuple[int, int] = (0, 90),
    invalid_share: float = 0.0,
    invalid_kinds: tuple[str, ...] = INVALID_KINDS,
    anomaly_share: float = ANOMALY_SHARE,
    stream: str = "tx",
) -> list[Record]:
    """``n`` records with ids ``first_id..first_id+n-1``; a share of them
    planted anomalies, another share invalid (never both)."""
    rng = random.Random(f"{stream}:{seed}")
    out = []
    for i in range(n):
        day = rng.randrange(days[0], days[1])
        u = rng.random()
        anomaly = u < anomaly_share
        r = _transaction(rng, pop, str(first_id + i), day, anomaly)
        if not anomaly and u < anomaly_share + invalid_share:
            r = _invalidate(rng, r, rng.choice(invalid_kinds))
        out.append(r)
    return out


def write_csv(path: str, records: list[Record]) -> None:
    with open(path, "w", encoding="ascii", newline="") as f:
        f.write(CSV_HEADER)
        f.writelines(r.csv_line() for r in records)


# -- stream schedule ----------------------------------------------------------


@dataclass(frozen=True)
class Step:
    """One rate level of the open loop: ``files`` files of ``rows`` rows,
    one every ``tick_s`` seconds, then ``rest_s`` more seconds before the
    next step's first file."""

    name: str
    files: int
    rows: int
    tick_s: float
    rest_s: float = 0.0


@dataclass
class StreamFile:
    index: int
    step: str
    due_s: float  # offset from the schedule's start
    records: list[Record]

    @property
    def name(self) -> str:
        return f"tx-{self.index:05d}.json"

    def payload(self) -> bytes:
        return "".join(r.json_line(self.due_s) for r in self.records).encode("ascii")


# Transaction ids of stream file k are k * FILE_ID_STRIDE + j, so the file a
# committed row came from is its id div FILE_ID_STRIDE.
FILE_ID_STRIDE = 1_000_000


def stream_files(seed: int, pop: Population, steps: list[Step], invalid_share: float) -> list[StreamFile]:
    """The whole open-loop schedule, every file pre-rendered in order.
    Steps follow each other: the first file of a step is due one tick plus
    the rest of the previous step after that step's last file."""
    files: list[StreamFile] = []
    t = 0.0
    for step in steps:
        for _ in range(step.files):
            k = len(files) + 1
            recs = transactions(
                seed,
                step.rows,
                pop,
                first_id=k * FILE_ID_STRIDE,
                days=(88, 91),
                invalid_share=invalid_share,
                stream=f"stream-file-{k}",
            )
            files.append(StreamFile(k, step.name, round(t, 3), recs))
            t += step.tick_s
        t += step.rest_s
    return files
