"""Seeded F5 access-log messages (FIXTURES.md F5, cmd/kafka_gen_log).

Pure Python, no Spark: the benchmark owns its inputs.  One message is a
JSON object with the F5 fields; values are drawn from fixed pools by a
``random.Random(seed)`` stream, so the same seed always gives the same
bytes.  Messages average about 750 B, like the reference's generator.

Two producers:

- ``stage_backlog`` writes a backlog of JSON-lines files once per seed and
  reuses it.  A ``_DONE`` marker, which the file source skips, holds the row
  count and the lineno checksum.
- ``trickle`` (``python3 perfbench/f5.py trickle ...``) is the open-loop
  generator: a single-threaded process that writes one file of
  ``TRICKLE_RATE`` events a second on a fixed schedule, atomically (temp
  file, then rename), stamps every event with the time its file was due,
  and logs how late each write ran.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
from datetime import datetime, timezone

# F5 field names in message order; "timestamp" is F5's own event time.
FIELDS = (
    "@collectiontime", "@hostname", "@ip", "@path", "@lineno", "@message",
    "agent", "auth", "bytes", "clientIp", "device_family", "httpversion",
    "ident", "os_family", "os_major", "os_minor", "referrer", "request",
    "requesttime", "response", "userAgent_family", "userAgent_major",
    "userAgent_minor", "verb", "xforwardfor", "timestamp",
)
INT_FIELDS = ("@lineno", "bytes", "requesttime")
TIME_FIELDS = ("@collectiontime", "timestamp")

BASE_EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
TRICKLE_RATE = 2000  # events a second, well under drain capacity

_VERBS = ("GET", "GET", "GET", "POST", "PUT", "DELETE", "HEAD")
_RESPONSES = ("200", "200", "200", "200", "304", "301", "404", "500", "502")
_OS = (("Windows", "10", "0"), ("Mac OS X", "10", "15"), ("Linux", "5", "4"),
       ("Android", "13", "0"), ("iOS", "17", "2"))
_UA = (("Chrome", "118", "0"), ("Firefox", "119", "0"), ("Safari", "17", "1"),
       ("Edge", "118", "2"), ("Opera", "104", "0"))
_DEVICES = ("Other", "iPhone", "Samsung SM-G991B", "Pixel 7", "iPad")
_SEGMENTS = ("api", "v1", "v2", "static", "assets", "img", "user", "items",
             "orders", "search", "cart", "checkout", "login", "health", "docs")


def _pools(rng: random.Random) -> dict:
    """Value pools drawn once per seed; rows pick from them."""
    def path() -> str:
        return "/" + "/".join(rng.choice(_SEGMENTS) for _ in range(rng.randint(2, 5)))

    def ip() -> str:
        return ".".join(str(rng.randint(1, 254)) for _ in range(4))

    agents = []
    for os_name, os_maj, os_min in _OS:
        for ua, ua_maj, ua_min in _UA:
            agents.append((
                f"Mozilla/5.0 ({os_name} {os_maj}.{os_min}) {ua}/{ua_maj}.{ua_min}."
                f"{rng.randint(1000, 9999)}",
                os_name, os_maj, os_min, ua, ua_maj, ua_min,
            ))
    return {
        "hosts": [f"web-{rng.randint(0, 999):03d}.dc{rng.randint(1, 4)}.example.com"
                  for _ in range(50)],
        "ips": [ip() for _ in range(500)],
        "paths": [path() for _ in range(200)],
        "referrers": [f"https://www.example{rng.randint(0, 99)}.com{path()}"
                      for _ in range(100)],
        "queries": [f"?id={rng.randint(0, 10**6)}&page={rng.randint(1, 50)}"
                    for _ in range(100)],
        "agents": agents,
    }


def _iso(ms: int) -> str:
    return datetime.fromtimestamp(ms / 1000, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


def _message(rng: random.Random, pools: dict, lineno: int, stamp_ms: int) -> str:
    """One F5 message as a JSON line (no newline)."""
    head, tail = _halves(rng, pools, stamp_ms)
    return f"{head}{lineno}{tail}"


def _halves(rng: random.Random, pools: dict, stamp_ms: int) -> tuple[str, str]:
    """One message split around its ``@lineno`` value."""
    agent, os_name, os_maj, os_min, ua, ua_maj, ua_min = rng.choice(pools["agents"])
    client = rng.choice(pools["ips"])
    verb = rng.choice(_VERBS)
    request = rng.choice(pools["paths"]) + rng.choice(pools["queries"])
    response = rng.choice(_RESPONSES)
    nbytes = rng.randint(200, 250_000)
    referrer = rng.choice(pools["referrers"])
    ts = _iso(stamp_ms)
    # the raw access-log line (common log format); quotes are JSON-escaped
    message = f'{client} - - [{ts}] \\"{verb} {request} HTTP/1.1\\" {response} {nbytes}'
    return (
        f'{{"@collectiontime":"{ts}","@hostname":"{rng.choice(pools["hosts"])}",'
        f'"@ip":"{rng.choice(pools["ips"])}","@path":"/var/log/nginx/access.log",'
        f'"@lineno":'
    ), (
        f',"@message":"{message}","agent":"{agent}","auth":"-",'
        f'"bytes":{nbytes},"clientIp":"{client}","device_family":"{rng.choice(_DEVICES)}",'
        f'"httpversion":"1.1","ident":"-","os_family":"{os_name}","os_major":"{os_maj}",'
        f'"os_minor":"{os_min}","referrer":"{referrer}","request":"{request}",'
        f'"requesttime":{rng.randint(1, 5000)},"response":"{response}",'
        f'"userAgent_family":"{ua}","userAgent_major":"{ua_maj}",'
        f'"userAgent_minor":"{ua_min}","verb":"{verb}",'
        f'"xforwardfor":"{rng.choice(pools["ips"])}","timestamp":"{ts}"}}'
    )


def lineno_checksum(linenos) -> int:
    """Order-independent content checksum: sum of lineno² mod 2^64."""
    return sum(x * x for x in linenos) % (1 << 64)


def stage_backlog(out_dir: str, seed: int, files: int, rows_per_file: int) -> dict:
    """Write ``files`` JSON-lines files of ``rows_per_file`` messages each,
    or reuse them when a finished backlog for this seed and shape exists.
    Returns ``{"rows", "checksum", "bytes", "reused"}``."""
    marker = os.path.join(out_dir, "_DONE")
    shape = {"seed": seed, "files": files, "rows_per_file": rows_per_file}
    if os.path.exists(marker):
        with open(marker) as f:
            done = json.load(f)
        if done.get("shape") == shape:
            return {**done["stats"], "reused": True}
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        os.remove(os.path.join(out_dir, name))
    rng = random.Random(seed)
    pools = _pools(rng)
    # one draw of message bodies, reused by every file with its own linenos:
    # staging cost stays a small share of a run at any backlog size
    bodies = [_halves(rng, pools, BASE_EPOCH_MS + j * 7 + rng.randint(0, 999))
              for j in range(rows_per_file)]
    total_bytes = 0
    lineno = 0
    for i in range(files):
        data = "".join(
            f"{head}{lineno + j}{tail}\n" for j, (head, tail) in enumerate(bodies)
        ).encode()
        lineno += rows_per_file
        total_bytes += len(data)
        with open(os.path.join(out_dir, f"part-{i:05d}.json"), "wb") as f:
            f.write(data)
    stats = {"rows": lineno, "checksum": lineno_checksum(range(lineno)), "bytes": total_bytes}
    with open(marker, "w") as f:
        json.dump({"shape": shape, "stats": stats}, f)
    return {**stats, "reused": False}


def trickle(out_dir: str, log_path: str, seed: int, seconds: int, start_at: float) -> None:
    """Open-loop generator: from wall time ``start_at``, one file a second
    holding ``TRICKLE_RATE`` events, for ``seconds``.  Each event's
    ``@collectiontime`` is its file's due time.  Never waits for the
    consumer; a late file is written as soon as possible and its lateness
    logged.  Log lines: ``{"due", "written", "first", "n"}``."""
    rng = random.Random(seed ^ 0x5EED)
    pools = _pools(rng)
    tmp = os.path.join(out_dir, ".inflight")
    lineno = 0
    with open(log_path, "w") as log:
        for k in range(seconds):
            due = start_at + k
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            due_ms = int(due * 1000)
            data = "".join(
                _message(rng, pools, lineno + j, due_ms) + "\n" for j in range(TRICKLE_RATE)
            )
            with open(tmp, "w") as f:
                f.write(data)
            os.rename(tmp, os.path.join(out_dir, f"tick-{k:06d}.json"))
            written = time.time()
            log.write(json.dumps({"due": due, "written": written, "first": lineno,
                                  "n": TRICKLE_RATE}) + "\n")
            log.flush()
            lineno += TRICKLE_RATE


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("trickle", help="run the open-loop generator")
    t.add_argument("--dir", required=True)
    t.add_argument("--log", required=True)
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--seconds", type=int, required=True)
    t.add_argument("--start-at", type=float, required=True, help="unix time of tick 0")
    a = ap.parse_args(argv)
    trickle(a.dir, a.log, a.seed, a.seconds, a.start_at)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
