"""Single-process event generator for the ``stream_windows`` workload.

Writes seeded events ``(event_id, user_id, ts, created_ms)`` as NDJSON files
into a drop directory, one file per tick, each written under a hidden temp
name and renamed into place so the file source never reads a half-written
file. 10 % of events carry an event time shifted 1-10 s into the past (the
lateness the reference source injects). Users are active in bursts of 1-4 s
separated by 6-15 s of silence, longer than the 5 s session gap, so
sessions close all the time.

Modes:
  backlog  write ``--files`` files covering the last ``--span-s`` seconds of
           event time as fast as possible, then exit;
  live     wait for ``--start-file``, then write one file per ``--tick``
           seconds at ``--rate`` events/s, event times on this process's
           clock, until ``--stop-file`` exists (or ``--max-seconds`` have
           passed since launch).

Every file is recorded in the ``--log`` NDJSON file (name, events, first id,
scheduled and written wall-clock ms), and ``<log>.done`` marks a finished
live run; the written files themselves are the streaming reference.
"""
import argparse
import json
import os
import time

import numpy as np


class Users:
    def __init__(self, rng, n, t0):
        self.rng = rng
        self.active = rng.random(n) < 0.3
        self.switch = t0 + rng.uniform(0, 6, n)

    def advance(self, t):
        due = np.nonzero(self.switch <= t)[0]
        if len(due):
            self.active[due] = ~self.active[due]
            burst = self.rng.uniform(1, 4, len(due))
            idle = self.rng.uniform(6, 15, len(due))
            self.switch[due] = t + np.where(self.active[due], burst, idle)
        return np.nonzero(self.active)[0]


def events(rng, users, t, dt, n, first_id):
    act = users.advance(t)
    if len(act) == 0:
        act = np.arange(len(users.active))
    uid = act[rng.integers(0, len(act), n)]
    ts = t + rng.uniform(0, dt, n)
    late = rng.random(n) < 0.10
    ts = np.where(late, ts - rng.uniform(1, 10, n), ts)
    return first_id + np.arange(n), uid, ts


def write_file(d, name, ids, uid, ts):
    now_ms = int(time.time() * 1000)
    lines = []
    for i, u, t in zip(ids.tolist(), uid.tolist(), ts.tolist()):
        us = int(t * 1e6)
        iso = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(us // 1000000))
        lines.append(f'{{"event_id":{i},"user_id":{u},"ts":"{iso}.{us % 1000000:06d}Z",'
                     f'"created_ms":{now_ms}}}\n')
    tmp = os.path.join(d, "." + name + ".tmp")
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.rename(tmp, os.path.join(d, name))
    return now_ms


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["backlog", "live"], required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    ap.add_argument("--events", type=int, default=0)
    ap.add_argument("--files", type=int, default=0)
    ap.add_argument("--span-s", type=float, default=0)
    ap.add_argument("--rate", type=float, default=0)
    ap.add_argument("--start-file", default="")
    ap.add_argument("--stop-file", default="")
    ap.add_argument("--max-seconds", type=float)
    ap.add_argument("--tick", type=float)
    a = ap.parse_args()
    os.makedirs(a.dir, exist_ok=True)
    rng = np.random.default_rng([a.seed, 0 if a.mode == "backlog" else 1])
    log = open(a.log, "a")
    next_id = a.first_id
    if a.mode == "backlog":
        t0 = time.time() - a.span_s
        users = Users(rng, a.users, t0)
        dt = a.span_s / a.files
        per = a.events // a.files
        for k in range(a.files):
            t = t0 + k * dt
            ids, uid, ts = events(rng, users, t, dt, per, next_id)
            name = f"b{k:05d}.json"
            w = write_file(a.dir, name, ids, uid, ts)
            log.write(json.dumps({"file": name, "n": per, "first_id": next_id,
                                  "sched_ms": w, "written_ms": w}) + "\n")
            next_id += per
    else:
        deadline = time.time() + a.max_seconds
        while not os.path.exists(a.start_file) and time.time() < deadline:
            time.sleep(0.005)
        start = time.time()
        users = Users(rng, a.users, start - a.tick)
        per = int(round(a.rate * a.tick))
        k = 0
        while True:
            sched = start + (k + 1) * a.tick
            if os.path.exists(a.stop_file) or sched > deadline:
                break
            delay = sched - time.time()
            if delay > 0:
                time.sleep(delay)
            ids, uid, ts = events(rng, users, sched - a.tick, a.tick, per, next_id)
            name = f"l{k:05d}.json"
            w = write_file(a.dir, name, ids, uid, ts)
            log.write(json.dumps({"file": name, "n": per, "first_id": next_id,
                                  "sched_ms": int(sched * 1000), "written_ms": w}) + "\n")
            next_id += per
            k += 1
    log.close()
    if a.mode == "live":
        open(a.log + ".done", "w").close()


if __name__ == "__main__":
    main()
