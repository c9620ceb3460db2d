"""Seeded request streams for the served-path benchmark.

Everything a workload sends is drawn here from ``random.Random``
streams; what differs between seeds comes from the stream seeded with
the workload seed. The server receives only the generated bodies.

- ``explore_bodies``: the ``explore_large`` stream. Seven query shapes
  (segmentation, funnel, retention, paths, records search, percentile
  segmentation, attribution) in a FIXED round-robin order, each with
  cost options (event counts, breakdowns, filters, steps, periods,
  models) from a stream shared by every seed. So every seed sends the
  same work mix, and only windows, events and filter values move.
  Every body is distinct, so the result cache (256 entries) never hits.
- ``dashboard_refreshes``: the ``ingest_mixed`` reader's stream over
  ``dashboard_pool``. Day-aligned windows so the rollup / user-day / KMV
  stores can answer; fewer variants than the cache holds.
- ``track_body``: one ``/track`` payload for the open-loop writer.
"""

from __future__ import annotations

import bisect
import json
import random

P = "/api/v1/projects/1"
SEG = P + "/queries/event-segmentation"

# ---------------------------------------------------------------- explore

#: event types the program's events_gen session walk emits
GEN_EVENTS = ("index", "promotions", "deals", "search", "not_found",
              "product", "add_to_cart", "view_cart", "checkout",
              "purchase", "refund")
FUNNEL_CHAIN = ("index", "search", "product", "add_to_cart", "view_cart",
                "checkout", "purchase")
EXPLORE_SHAPES = ("segmentation", "funnel", "retention", "paths",
                  "records_search", "percentiles", "attribution")


def _window(r: random.Random) -> dict:
    """A 12-16 day ``between`` window inside the corpus span, with
    second-resolution ends so two draws of a shape almost never share
    a body. The narrow length range keeps the data each request reads
    similar across seeds."""
    a = r.randint(1, 8)
    b = a + r.randint(12, 15)
    return {"type": "between",
            "from": f"2024-01-{a:02d}T{r.randint(0, 11):02d}:"
                    f"{r.randint(0, 59):02d}:{r.randint(0, 59):02d}",
            "to": f"2024-01-{b:02d}T{r.randint(12, 23):02d}:"
                  f"{r.randint(0, 59):02d}:{r.randint(0, 59):02d}"}


def _ev(name: str) -> dict:
    return {"eventName": name, "eventType": "regular"}


def _product_filter(r: random.Random) -> dict:
    return {"propertyName": "product_id", "propertyType": "event",
            "type": "property", "operation": r.choice(["lt", "gte"]),
            "value": [r.randint(10, 90)], "dtype": "int64"}


def _explore_body(shape: str, r: random.Random,
                  o: random.Random) -> tuple[str, dict]:
    """One body of ``shape``. ``o`` draws the options that set a
    request's cost (how many events, breakdowns, filters, steps, periods,
    models) from a stream that is the same for every seed; ``r``, the
    seeded stream, draws the window, the events and the filter values."""
    time = _window(r)
    if shape == "segmentation":
        events = []
        for name in r.sample(GEN_EVENTS, o.randint(1, 2)):
            qs = [{"type": o.choice(["countEvents", "countUniqueGroups"])}]
            e = {**_ev(name), "queries": qs}
            if o.random() < 0.4:
                e["filters"] = [_product_filter(r)]
            events.append(e)
        body = {"time": time, "group": "user", "chartType": "line",
                "intervalUnit": o.choice(["day", "week"]), "events": events}
        if o.random() < 0.5:
            body["breakdowns"] = [{"propertyName": "event_type",
                                   "propertyType": "event",
                                   "type": "property"}]
        return SEG, body
    if shape == "percentiles":
        agg = o.choice(["median", "percentile90", "percentile75"])
        body = {"time": time, "group": "user", "chartType": "line",
                "intervalUnit": o.choice(["day", "week"]),
                "events": [{**_ev(r.choice(["purchase", "refund"])),
                            "queries": [{"type": "aggregateProperty",
                                         "aggregate": agg,
                                         "propertyName": "value",
                                         "propertyType": "event"}]}]}
        return SEG, body
    if shape == "funnel":
        n = o.randint(2, 4)
        steps = sorted(r.sample(range(len(FUNNEL_CHAIN)), n))
        unit, hi = o.choice([("hour", 12), ("day", 7)])
        body = {"time": time, "group": "user", "intervalUnit": "day",
                "timeWindow": {"n": o.randint(1, hi), "unit": unit},
                "count": "unique", "touch": {"type": "first"},
                "steps": [{"events": [_ev(FUNNEL_CHAIN[i])]} for i in steps]}
        return P + "/queries/funnel", body
    if shape == "retention":
        body = {"time": time,
                "intervalUnit": o.choice(["day", "week"]),
                "maxPeriods": o.randint(4, 8),
                "cohortEvent": _ev(r.choice(["index", "search", "product"])),
                "returnEvent": _ev(r.choice(["purchase", "add_to_cart",
                                             "product"]))}
        return P + "/queries/retention", body
    if shape == "paths":
        body = {"time": time, "steps": o.randint(3, 4),
                "topK": o.randint(10, 20),
                "anchorEvent": _ev(r.choice(["index", "search", "product"]))}
        if o.random() < 0.5:
            body["excludeEvents"] = [r.choice(["not_found", "deals"])]
        return P + "/queries/paths", body
    if shape == "records_search":
        body = {"time": time,
                "events": [_ev(r.choice(["purchase", "refund",
                                         "add_to_cart", "checkout"]))]}
        return P + "/event-records/search", body
    if shape == "attribution":
        body = {"time": time,
                "model": o.choice(["first_touch", "last_touch", "linear",
                                   "position"]),
                "lookbackDays": o.randint(1, 7),
                "touchEvent": _ev(r.choice(["promotions", "deals", "search"])),
                "conversionEvent": _ev("purchase"),
                "channelProperty": {"propertyName": "event_type"}}
        return P + "/queries/attribution", body
    raise ValueError(shape)


def explore_bodies(seed: int, n: int) -> list[tuple[str, str, dict]]:
    """The first ``n`` requests of the seed's stream as
    ``(shape, path, body)``; a prefix of a longer stream is the same.
    Every seed sends the same shapes with the same cost options in the
    same order, so runs of different seeds do comparable work."""
    r = random.Random(f"explore:{seed}")
    o = random.Random("explore-options")
    seen: set = set()
    out = []
    while len(out) < n:
        shape = EXPLORE_SHAPES[len(out) % len(EXPLORE_SHAPES)]
        path, body = _explore_body(shape, r, o)
        key = path + json.dumps(body, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append((shape, path, body))
    return out


# ------------------------------------------------------------- dashboard

SF01_EVENTS = ("signup", "purchase", "view", "click", "error")


def _day_window(a: int, b: int) -> dict:
    return {"type": "between", "from": f"2024-01-{a:02d}T00:00:00",
            "to": f"2024-01-{b:02d}T23:59:59.999999"}


def _panel(kind: str, a: int, b: int, v: int) -> tuple[str, dict]:
    """One dashboard panel over days ``a..b``; ``v`` picks the event."""
    time = _day_window(a, b)
    ev = SF01_EVENTS[v % len(SF01_EVENTS)]
    if kind == "count_daily":
        return SEG, {"time": time, "group": "user", "intervalUnit": "day",
                     "chartType": "line",
                     "events": [{**_ev(ev), "queries": [{"type": "countEvents"}]}]}
    if kind == "count_by_type":
        return SEG, {"time": time, "group": "user", "intervalUnit": "day",
                     "chartType": "line",
                     "breakdowns": [{"propertyName": "event_type",
                                     "propertyType": "event",
                                     "type": "property"}],
                     "events": [{"eventName": None, "eventType": "regular",
                                 "queries": [{"type": "countEvents"}]}]}
    if kind == "uniques_weekly":
        return SEG, {"time": time, "group": "user", "intervalUnit": "week",
                     "chartType": "line",
                     "events": [{**_ev(ev), "queries": [
                         {"type": "countUniqueGroups", "approx": True}]}]}
    if kind == "stickiness":
        return P + "/queries/stickiness", {"time": time, "period": "week"}
    if kind == "retention":
        return P + "/queries/retention", {
            "time": time, "intervalUnit": "week", "maxPeriods": 4,
            "cohortEvent": _ev("signup"), "returnEvent": _ev(ev)}
    if kind == "growth":
        return P + "/queries/growth", {"time": time, "period": "week"}
    if kind == "rfm":
        return P + "/queries/rfm", {"time": time, "grid": True}
    if kind == "lness":
        return P + "/queries/lness", {"anchor": f"2024-01-{b:02d}",
                                      "lShort": 7, "lLong": 21}
    if kind == "funnel":
        return P + "/queries/funnel", {
            "time": time, "group": "user", "intervalUnit": "day",
            "timeWindow": {"n": 7, "unit": "day"}, "count": "unique",
            "touch": {"type": "first"},
            "steps": [{"events": [_ev(e)]} for e in ("view", "click", ev)]}
    if kind == "venn":
        return P + "/queries/audience", {
            "type": "venn", "time": time, "sketched": True,
            "a": _ev("signup"), "b": _ev(ev)}
    raise ValueError(kind)


#: panel kinds; EXACT ones are answered exactly by their store (or by
#: the bucketed layout) and are diffed against the raw path per run
PANEL_KINDS = ("count_daily", "count_by_type", "uniques_weekly",
               "stickiness", "retention", "growth", "rfm", "lness",
               "funnel", "venn")
EXACT_PANELS = ("count_daily", "count_by_type", "retention", "growth",
                "rfm", "lness", "funnel")
VARIANTS_PER_PANEL = 12


class ZipfDraw:
    """Zipf(s) draws over ``n`` popularity ranks, from a fixed stream."""

    def __init__(self, n: int, s: float = 1.1):
        self._r = random.Random("zipf")
        acc, self._cdf = 0.0, []
        for k in range(1, n + 1):
            acc += 1.0 / k ** s
            self._cdf.append(acc)

    def __call__(self) -> int:
        return bisect.bisect_left(self._cdf, self._r.random() * self._cdf[-1])


def dashboard_pool(seed: int) -> list[tuple[str, str, dict]]:
    """120 panel bodies (< the cache's 256 entries) as ``(kind, path,
    body)``: kind ``k``'s variants sit at ``k*12 .. k*12+11`` in
    popularity order. The seed draws each variant's window and event."""
    r = random.Random(f"dashboard:{seed}")
    pool, seen = [], set()
    for kind in PANEL_KINDS:
        while len(pool) < VARIANTS_PER_PANEL * (PANEL_KINDS.index(kind) + 1):
            a = r.randint(1, 10)
            path, body = _panel(kind, a, r.randint(a + 14, 31),
                                r.randrange(len(SF01_EVENTS)))
            key = path + json.dumps(body, sort_keys=True)
            if key not in seen:
                seen.add(key)
                pool.append((kind, path, body))
    return pool


def dashboard_refreshes(seed: int):
    """Endless reader stream: dashboard refreshes, each asking every
    panel kind once in PANEL_KINDS order, the variant a Zipf(1.1) draw
    over the kind's 12. Any prefix of the stream holds the kinds in
    near-equal shares, so a faster or slower run reads the same mix.
    The draw sequence is the same for every seed (it is the traffic
    shape); the seed picks what each variant asks for."""
    pool = dashboard_pool(seed)
    draw = ZipfDraw(VARIANTS_PER_PANEL)
    while True:
        for k in range(len(PANEL_KINDS)):
            yield pool[k * VARIANTS_PER_PANEL + draw()]


# ----------------------------------------------------------------- ingest

def track_body(r: random.Random) -> dict:
    """A /track event for one of the sf0.1 users, inside January 2024
    so each fold moves the panels' answers."""
    day, sec = r.randint(1, 30), r.randrange(86_400)
    return {"event": r.choice(SF01_EVENTS),
            "userId": str(r.randrange(1_500)),
            "timestamp": f"2024-01-{day:02d}T{sec // 3600:02d}:"
                         f"{sec // 60 % 60:02d}:{sec % 60:02d}Z",
            "properties": {"k": r.randrange(100),
                           "revenue": round(r.expovariate(1 / 50.0), 2)}}
