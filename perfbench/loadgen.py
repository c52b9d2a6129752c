"""Closed-loop HTTP load for the served workloads.

A closed-loop client sends its next request as soon as the previous one
has ended, so each request is due the moment the client is free. Its
latency runs from that due time to the last byte of the response, or to
the moment the attempt failed. Reconnecting after a dropped connection
happens inside the next request's latency.
"""

import http.client
import json
import time


class Attempt:
    """One request and what came back."""
    __slots__ = ("req", "due", "end", "due_epoch", "end_epoch", "status",
                 "body", "error")

    def __init__(self, req, due, due_epoch):
        self.req, self.due, self.due_epoch = req, due, due_epoch
        self.end = self.end_epoch = None
        self.status, self.body, self.error = None, b"", None

    @property
    def latency_ms(self):
        return (self.end - self.due) * 1000.0

    @property
    def responded(self):
        return self.status is not None


class Client:
    """One client with one keep-alive connection to the server."""

    clock = staticmethod(time.perf_counter)
    timeout_s = 60.0

    def __init__(self, port):
        self.port = port
        self.conn = None

    def send(self, req, due=None):
        """POST one request, returning the Attempt. `due` defaults to now."""
        a = Attempt(req, self.clock() if due is None else due, time.time())
        body = json.dumps({"q": req.sql, "limit": req.limit})
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                                       timeout=self.timeout_s)
            self.conn.request("POST", "/query", body=body,
                              headers={"Content-Type": "application/json"})
            resp = self.conn.getresponse()
            a.body = resp.read()
            a.status = resp.status
            if resp.getheader("Connection", "").lower() == "close":
                self.close()
        except (OSError, http.client.HTTPException) as e:
            a.error = f"no response: {type(e).__name__}"
            self.close()
        a.end = self.clock()
        a.end_epoch = time.time()
        return a

    def close(self):
        if self.conn is not None:
            self.conn.close()
            self.conn = None


def closed_loop(client, rounds, seconds, after_each=None, before_round=None, min_rounds=1):
    """Send whole rounds back to back until `seconds` have passed since
    the first send, and at least `min_rounds`. `before_round(i)` and
    `after_each(attempt)` run between requests, outside any request's
    latency. Returns (attempts, round wall times in s)."""
    attempts, round_s = [], []
    start = client.clock()
    for batch in rounds:
        if len(round_s) >= min_rounds and client.clock() - start >= seconds:
            break
        if before_round is not None:
            before_round(len(round_s))
        r0 = client.clock()
        for req in batch:
            attempts.append(client.send(req))
            if after_each is not None:
                after_each(attempts[-1])
        round_s.append(client.clock() - r0)
    return attempts, round_s
