"""Open-loop HTTP load and the percentile picker.

Requests follow a fixed schedule of due times that does not slow down
when the server does. Each request's latency is timed from its due
time, so a stalled server also inflates every request queued behind
the stall, as it would for independent users.
"""

import http.client
import math
import threading
import time

MIN_BEYOND = 10
HOST = "127.0.0.1"
TIMEOUT_S = 60
# the sender fell behind when its lateness grew by more than this
BACKLOG_SLACK_S = 0.05


def pick(values, want):
    """Percentile `want` (0..1) of `values` by nearest rank, lowered to
    the highest percentile that still has MIN_BEYOND samples beyond it.

    Returns (percentile, value, sample count); the percentile falls back
    to the median when there are too few samples for anything higher."""
    n = len(values)
    if n == 0:
        return (want, float("nan"), 0)
    p = max(min(want, 1.0 - MIN_BEYOND / n), 0.5)
    s = sorted(values)
    return (p, s[max(math.ceil(p * n) - 1, 0)], n)


def schedule(rate, seconds, start):
    """Due times, evenly spaced at `rate` per second from `start`."""
    return [start + i / rate for i in range(int(rate * seconds))]


class Outcome:
    __slots__ = ("req", "due", "sent", "done", "status", "ok")

    def __init__(self, req, due, sent, done, status, ok):
        self.req, self.due, self.sent, self.done = req, due, sent, done
        self.status, self.ok = status, ok

    @property
    def latency(self):
        return self.done - self.due

    @property
    def late(self):
        return self.sent - self.due


def open_loop(port, reqs, due, workers, check):
    """Send reqs[i] = (route, method, path, body bytes or None, ...) at
    due[i] (time.perf_counter seconds) from `workers` threads, each on
    one persistent connection. `check(req, status, body)` says whether
    the response is right. Returns (outcomes, most requests in flight)."""
    out = [None] * len(reqs)
    lock = threading.Lock()
    state = {"next": 0, "inflight": 0, "max": 0}

    def worker():
        conn = None
        while True:
            with lock:
                i = state["next"]
                state["next"] += 1
            if i >= len(reqs):
                break
            req = reqs[i]
            wait = due[i] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            sent = time.perf_counter()
            with lock:
                state["inflight"] += 1
                state["max"] = max(state["max"], state["inflight"])
            status, data = -1, b""
            try:
                if conn is None:
                    conn = http.client.HTTPConnection(HOST, port, timeout=TIMEOUT_S)
                headers = {"Content-Type": "application/json"} if req[3] else {}
                conn.request(req[1], req[2], body=req[3], headers=headers)
                resp = conn.getresponse()
                data = resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                if conn is not None:
                    conn.close()
                conn = None
            done = time.perf_counter()
            with lock:
                state["inflight"] -= 1
            ok = status != -1 and check(req, status, data)
            out[i] = Outcome(req, due[i], sent, done, status, ok)
        if conn is not None:
            conn.close()

    threads = [threading.Thread(target=worker) for _ in range(workers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, state["max"]


def backlog_grew(outcomes):
    """Whether the sender fell further behind over the step: the median
    lateness of its last quarter exceeds that of its first quarter by
    more than BACKLOG_SLACK_S."""
    q = max(len(outcomes) // 4, 1)
    first = sorted(o.late for o in outcomes[:q])
    last = sorted(o.late for o in outcomes[-q:])
    return last[len(last) // 2] - first[len(first) // 2] > BACKLOG_SLACK_S
