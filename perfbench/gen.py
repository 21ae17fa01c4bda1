"""Seeded Sparkov-shaped CDC generator shared by the stream and ETL phases
of lakehouse_stream, and the output checks that need to know what it
generated.

The generator writes Debezium envelope lines (one JSON object per line,
the wire format BronzeStream/ScoringStream/Debezium.parse read) into
chunk files plus a manifest that says when each chunk is to land. The
JVM harness lands the chunks on that schedule from one thread. Stated
properties of the generated stream:

- cards and merchants are Zipf-skewed (a few hot cards and merchants);
- event times run forward from a seeded start in 2019-2020 at the density
  of the Sparkov data the reference uses (SPARKOV_ROWS over the two years),
  so a 6000-row DAG batch spans about three days;
- fraud share is 0.5-1 % (drawn from the seed), fraud rows are larger and
  cluster late at night, as in Sparkov;
- REDELIVER_SHARE of rows are sent again, with the same trans_num and
  content (at-least-once delivery after a producer restart). A re-delivery
  goes REDELIVER_LAG_CHUNKS chunks after its original's chunk, so it never
  shares a micro-batch or a DAG batch with it: a stream micro-batch reads
  at most STREAM_MAX_FILES consecutive files (BronzeStream.readEnvelopes'
  maxFilesPerTrigger; files land in chunk order), and a DAG run reads one
  chunk. The engine drops a duplicate only when an earlier batch holds its
  original, and writes a copy in the same batch twice (see README.md,
  "Output checks"), so that case is outside the workload;
- LATE_SHARE of rows carry an event time 1-30 days older than the stream
  position (late arrivals the silver high-water mark skips);
- TOMBSTONE_SHARE of lines are delete tombstones (`"after": null`);
- TEST_SHARE of rows belong to TEST_CARD, which the ETL phase's
  maintenance erases with deleteWhere.
"""
import json
import os

import numpy as np

REDELIVER_SHARE = 0.02
STREAM_MAX_FILES = 10
# chunks from an original to its re-delivery, [low, high) per phase
REDELIVER_LAG_CHUNKS = {"stream": (STREAM_MAX_FILES, STREAM_MAX_FILES + 3), "etl": (1, 2)}
LATE_SHARE = 0.01
TOMBSTONE_SHARE = 0.005
TEST_SHARE = 0.005
TEST_CARD = 4000000000000002

# The reference's traffic (BASELINE.md): 200-500 tx per 10-s micro-batch,
# i.e. 20-50 tx/s (BASELINE.md:13), and the bronze-to-gold DAG every 5 min
# (BASELINE.md:15).
REF_RATE = 20
REF_DAG_PERIOD_S = 300
# lakehouse_stream, stream phase: offered rates (tx/s), the reference's
# 20 and 50, then 100 past them; each held for an equal share of the
# phase, one file per FRAUD_CHUNK_MS (a quarter of a scoring trigger here,
# so each micro-batch holds several files)
FRAUD_RATES = (REF_RATE, 50, 100)
FRAUD_CHUNK_MS = 500
# warm-up files, landed one scoring trigger apart before the schedule
WARM_FILES = 2
WARM_ROWS = 20
STREAM_SHARE = 0.45
# lakehouse_stream, predict phase
PREDICT_SHARE = 0.05
# lakehouse_stream, ETL phase: closed-loop DAG runs, each over one batch of
# the INSERTs one DAG period collects at the reference's lower rate
# (20 tx/s x 300 s = 6000 rows); a batch lands when the orchestrator is
# ready for it. ETL_SHARE of the run's seconds go to it, and the generator
# makes one batch per ETL_MIN_CYCLE_S of that (a DAG run takes longer), so
# the batches do not run out first.
ETL_ROWS = REF_RATE * REF_DAG_PERIOD_S
ETL_SHARE = 0.5
ETL_MIN_CYCLE_S = 4.0
PREDICT_ENVELOPES = 500

CATEGORIES = ["grocery_pos", "gas_transport", "home", "shopping_pos", "kids_pets",
              "shopping_net", "entertainment", "food_dining", "personal_care",
              "health_fitness", "misc_pos", "misc_net", "grocery_net", "travel"]
STATES = ["TX", "CA", "NY", "PA", "OH", "IL", "FL", "MI", "AL", "MO", "MN", "AR",
          "NC", "VA", "WI", "SC", "KY", "IN", "IA", "OK", "GA", "MD", "WV", "NJ"]
SYL = ["ka", "lo", "mi", "ran", "dor", "vel", "sta", "ben", "ton", "ri", "ville",
       "ber", "ley", "ford", "ham", "wood", "port", "sen", "ma", "ker"]
JOBS = ["Engineer", "Teacher", "Nurse", "Designer", "Accountant", "Chemist",
        "Surveyor", "Librarian", "Pilot", "Editor"]
# Population sizes: no repository source gives the reference's card or
# merchant counts; with these a 6000-row batch holds about 600 distinct
# cards, the hottest with a sixth of the rows.
N_CARDS = 800
N_MERCHANTS = 400
N_CITIES = 120
T0_US = 1546300800 * 1_000_000  # 2019-01-01T00:00:00Z
DAY_US = 86400 * 1_000_000
SPAN_US = 730 * DAY_US  # two years
# the reference's Sparkov data: 1.2M-1.8M rows over 2019-2020 (BASELINE.md:5)
SPARKOV_ROWS = 1_500_000


def _word(rng, n):
    return "".join(rng.choice(SYL, n)).capitalize()


class Population:
    """Cards (with their holder's attributes), merchants and cities."""

    def __init__(self, rng):
        self.cities = [dict(city=_word(rng, 2), state=str(rng.choice(STATES)),
                            zip=int(rng.integers(10000, 99999)),
                            lat=round(float(rng.uniform(26, 48)), 4),
                            long=round(float(rng.uniform(-122, -71)), 4),
                            city_pop=int(rng.lognormal(9, 1.5)) + 100)
                       for _ in range(N_CITIES)]
        self.cards = []
        for i in range(N_CARDS):
            c = self.cities[int(rng.integers(N_CITIES))]
            self.cards.append(dict(
                c, cc_num=int(rng.integers(10**15, 10**16 - 1)) if i else TEST_CARD,
                first=_word(rng, 2), last=_word(rng, 3),
                gender=str(rng.choice(["F", "M"])),
                street=f"{int(rng.integers(1, 9999))} {_word(rng, 2)} St",
                job=str(rng.choice(JOBS)),
                dob=int(rng.integers(-18000, 11000))))  # days since epoch
        self.merchants = [(f"fraud_{_word(rng, 2)} {_word(rng, 2)}", str(rng.choice(CATEGORIES)))
                          for _ in range(N_MERCHANTS)]
        w = 1.0 / np.arange(1, N_CARDS) ** 1.1
        self.card_cdf = np.cumsum(w / w.sum())
        w = 1.0 / np.arange(1, N_MERCHANTS + 1)
        self.merch_cdf = np.cumsum(w / w.sum())

    @staticmethod
    def draw(rng, cdf):
        """Index drawn with the probabilities whose running sum is `cdf`."""
        return min(int(np.searchsorted(cdf, rng.random(), side="right")), len(cdf) - 1)


class Stream:
    """Generates rows in event-time order, `position_us` advancing."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.pop = Population(self.rng)
        self.fraud_share = float(self.rng.uniform(0.005, 0.01))
        # late rows stay in 2019, and a run's rows (~100 days) in 2020
        self.position_us = T0_US + int(self.rng.uniform(31, 600)) * DAY_US
        self.step_us = SPAN_US // SPARKOV_ROWS

    def row(self):
        rng = self.rng
        self.position_us += int(rng.integers(1, 2 * self.step_us))
        ts = self.position_us
        if rng.random() < LATE_SHARE:
            ts -= int(rng.uniform(1, 30) * 86400e6)
        if rng.random() < TEST_SHARE:
            card = self.pop.cards[0]
        else:
            card = self.pop.cards[1 + Population.draw(rng, self.pop.card_cdf)]
        merchant, category = self.pop.merchants[Population.draw(rng, self.pop.merch_cdf)]
        fraud = rng.random() < self.fraud_share
        if fraud:
            amt = round(float(rng.uniform(200, 1300)), 2)
            day = ts - ts % 86_400_000_000
            ts = day + int(rng.choice([22, 23, 0, 1, 2, 3])) * 3_600_000_000 + \
                int(rng.integers(0, 3_600_000_000))
        else:
            amt = round(float(min(rng.lognormal(3.6, 1.1), 9000.0)), 2)
        return {
            "trans_date_trans_time": str(ts), "cc_num": str(card["cc_num"]),
            "merchant": merchant, "category": category, "amt": amt,
            "first": card["first"], "last": card["last"], "gender": card["gender"],
            "street": card["street"], "city": card["city"], "state": card["state"],
            "zip": str(card["zip"]), "lat": card["lat"], "long": card["long"],
            "city_pop": str(card["city_pop"]), "job": card["job"], "dob": str(card["dob"]),
            "trans_num": "%032x" % int.from_bytes(rng.bytes(16), "big"),
            "unix_time": str(ts // 1_000_000),
            "merch_lat": round(card["lat"] + float(rng.uniform(-1, 1)), 6),
            "merch_long": round(card["long"] + float(rng.uniform(-1, 1)), 6),
            "is_fraud": "1" if fraud else "0",
        }


def envelope(after, emit_ms):
    return json.dumps({"before": None, "after": after, "op": "c", "ts_ms": emit_ms},
                      separators=(",", ":"))


def tombstone(before, emit_ms):
    return json.dumps({"before": before, "after": None, "op": "d", "ts_ms": emit_ms},
                      separators=(",", ":"))


def schedule(seconds):
    """[(phase, due offset ms within the phase, rows)] for every chunk."""
    out = [("warm", 0, WARM_ROWS)] * WARM_FILES
    step_ms = int(seconds * STREAM_SHARE * 1000) // len(FRAUD_RATES)
    steps = []
    for i, rate in enumerate(FRAUD_RATES):
        start = i * step_ms
        steps.append({"rate": rate, "start_ms": start, "end_ms": start + step_ms})
        per = rate * FRAUD_CHUNK_MS / 1000
        for k, t in enumerate(range(start, start + step_ms, FRAUD_CHUNK_MS)):
            # fractional rows per chunk are spread so the step's mean rate holds
            out.append(("stream", t, int((k + 1) * per) - int(k * per)))
    batches = max(1, int(seconds * ETL_SHARE / ETL_MIN_CYCLE_S))
    out += [("etl", k * REF_DAG_PERIOD_S * 1000, ETL_ROWS) for k in range(batches)]
    return out, steps


def generate(seed, seconds, out):
    """Writes chunk files, predict.jsonl and manifest.json into `out`.

    Event time runs on across the phases. A re-delivery goes into the
    chunk of its phase REDELIVER_LAG_CHUNKS after its original's (one that
    would come after the phase's last chunk is not sent)."""
    st = Stream(seed)
    chunks, steps = schedule(seconds)
    pending = {}  # chunk index -> lines re-delivered in it
    manifest = {"seed": seed, "test_card": str(TEST_CARD), "steps": steps,
                "predict_s": seconds * PREDICT_SHARE, "etl_s": seconds * ETL_SHARE, "chunks": []}
    index = {}  # phase -> indices of its chunks
    for i, (phase, _, _) in enumerate(chunks):
        index.setdefault(phase, []).append(i)
    for i, (phase, at_ms, n) in enumerate(chunks):
        lines, trans, events = [], [], 0
        k = index[phase].index(i)
        for _ in range(n):
            r = st.row()
            if st.rng.random() < TOMBSTONE_SHARE:
                lines.append(tombstone(r, at_ms))
                continue
            line = envelope(r, at_ms)
            lines.append(line)
            trans.append(r["trans_num"])
            events += 1
            if phase != "warm" and st.rng.random() < REDELIVER_SHARE:
                later = k + int(st.rng.integers(*REDELIVER_LAG_CHUNKS[phase]))
                if later < len(index[phase]):
                    pending.setdefault(index[phase][later], []).append(line)
        due = pending.pop(i, [])
        lines += due
        name = f"c{i:05d}.jsonl"
        with open(os.path.join(out, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        manifest["chunks"].append({"file": name, "phase": phase, "at_ms": at_ms,
                                   "events": events, "redelivered": len(due),
                                   "trans": trans})
    with open(os.path.join(out, "predict.jsonl"), "w") as f:
        for _ in range(PREDICT_ENVELOPES):
            f.write(envelope(st.row(), 0) + "\n")
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)


def _read_lines(path):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return [l.rstrip("\n") for l in f if l.strip()]


def verify(inp):
    """Output checks that compare what the engine wrote with what was
    generated. Returns {check: (ok, detail)}."""
    with open(os.path.join(inp, "manifest.json")) as f:
        m = json.load(f)
    landed = {f for name in ("landed_stream.txt", "landed_etl.txt")
              for f in _read_lines(os.path.join(inp, name)) or []}
    out = {}
    # stream phase: every emitted trans_num predicted exactly once
    chunks = [c for c in m["chunks"] if c["phase"] in ("warm", "stream") and c["file"] in landed]
    want = {t for c in chunks for t in c["trans"]}
    preds = _read_lines(os.path.join(inp, "predictions.csv"))
    alerts = _read_lines(os.path.join(inp, "alerts.csv"))
    if preds is None or alerts is None:
        out["predicted_exactly_once"] = (False, "no predictions written")
    else:
        rows = [p.split(",") for p in preds]
        names = [r[0] for r in rows]
        out["predicted_exactly_once"] = (
            len(names) == len(set(names)) and set(names) == want,
            f"{len(names)} predictions, {len(set(names))} distinct, {len(want)} emitted, "
            f"missing {len(want - set(names))}, duplicated {len(names) - len(set(names))}")
        flagged = {r[0] for r in rows if r[2] == "1"}
        out["alerts_subset_of_flagged"] = (
            set(alerts) <= flagged and len(alerts) == len(set(alerts)),
            f"{len(alerts)} alerts, {len(set(alerts) - flagged)} not flagged, "
            f"{len(flagged)} flagged")
    # ETL phase: fact rows = distinct landed trans_num, minus the erased card
    chunks = [c for c in m["chunks"] if c["phase"] == "etl" and c["file"] in landed]
    test = set()
    for c in chunks:
        with open(os.path.join(inp, c["file"])) as f:
            for line in f:
                after = json.loads(line)["after"]
                if after and after["cc_num"] == m["test_card"]:
                    test.add(after["trans_num"])
    want = {t for c in chunks for t in c["trans"]} - test
    keys = _read_lines(os.path.join(inp, "fact_keys.txt"))
    if keys is None:
        out["fact_rows_match_landed"] = (False, "no fact keys written")
    else:
        got = set(keys)
        out["fact_rows_match_landed"] = (
            len(keys) == len(got) == len(want) and got == want,
            f"fact rows {len(keys)} (distinct {len(got)}), distinct landed trans_num "
            f"{len(want)} (test card rows erased: {len(test)}), missing {len(want - got)}, "
            f"unexpected {len(got - want)}")
    return out
