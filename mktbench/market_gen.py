#!/usr/bin/env python3
"""Input generator for the market-loop workload.

A single-threaded process, separate from the JVM under test. It writes
a backlog: one JSON-lines file per `TICK_MS` tick of schedule to each of
three topic directories, `orders` (MarketOrder records keyed by trader),
`invests` (INVEST TraderStateUpdater records) and `prices`
(SharePriceInfo keyed "FOO"). Files are written to a staging directory
and moved in atomically, so the file source never lists a half-written
file. Each record's `time` is its tick's slot on the schedule, which
starts at `--start-ms`.

TxnIds are `o<seq>` for orders and `i<seq>` for invests, where the
tick is seq // per-tick count. A JSON summary of the schedule is
written to `--summary`.

    python3 mktbench/market_gen.py --root DIR --seed N --seconds S
        --start-ms MS --summary FILE
"""
import argparse
import datetime as dt
import json
import math
import os
import random

RATE = 1000  # orders per second of schedule
TRADERS = 256
INVEST_SHARE = 0.05  # invests per order
PRICES_PER_S = 20
TICK_MS = 200


def iso(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def main() -> None:
    ap = argparse.ArgumentParser(description="market-loop input generator")
    ap.add_argument("--root", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--start-ms", type=int, required=True, help="time of tick 0")
    ap.add_argument("--summary", required=True)
    a = ap.parse_args()

    rng = random.Random(a.seed)
    dirs = {n: os.path.join(a.root, n) for n in ("orders", "invests", "prices")}
    staging = os.path.join(a.root, ".staging")
    for d in list(dirs.values()) + [staging]:
        os.makedirs(d, exist_ok=True)

    per_tick = RATE * TICK_MS // 1000
    invests_per_tick = max(1, round(per_tick * INVEST_SHARE))
    prices_per_tick = max(1, PRICES_PER_S * TICK_MS // 1000)
    ticks = int(round(a.seconds * 1000 / TICK_MS))
    price = 2.0

    def publish(topic: str, tick: int, lines: list) -> None:
        name = f"{topic}_{tick:06d}.json"
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as f:
            f.write("".join(lines))
        os.replace(tmp, os.path.join(dirs[topic], name))

    for k in range(ticks):
        ts = iso(a.start_ms + k * TICK_MS)
        orders = []
        for j in range(per_tick):
            seq = k * per_tick + j
            orders.append(json.dumps({"key": f"T{rng.randrange(TRADERS)}", "value": {
                "time": ts, "txnId": f"o{seq}",
                "orderType": "BUY" if rng.random() < 0.5 else "SELL",
                "shares": rng.randint(1, 3)}}) + "\n")
        invests = []
        for j in range(invests_per_tick):
            seq = k * invests_per_tick + j
            invests.append(json.dumps({"key": f"T{rng.randrange(TRADERS)}", "value": {
                "txnId": f"i{seq}", "updaterType": "INVEST",
                "time": ts, "coinsDiff": -rng.choice((0.01, 0.02, 0.03)), "sharesDiff": 0,
                "addBailout": False, "fedMonkeys": 0, "investDiff": 1}}) + "\n")
        prices = []
        for _ in range(prices_per_tick):
            price = round(price * math.exp(rng.gauss(0.0, 0.01)), 4)
            prices.append(json.dumps({"key": "FOO", "value": {
                "time": ts, "coins": price, "forecast": round(price * 1.05, 4)}}) + "\n")
        publish("prices", k, prices)
        publish("orders", k, orders)
        publish("invests", k, invests)

    os.rmdir(staging)
    summary = {"ticks": ticks, "orders_per_tick": per_tick,
               "invests_per_tick": invests_per_tick, "prices_per_tick": prices_per_tick}
    tmp = a.summary + ".tmp"
    with open(tmp, "w") as f:
        json.dump(summary, f)
    os.replace(tmp, a.summary)


if __name__ == "__main__":
    main()
