"""Seeded request streams for the benchmark's workloads.

Everything here is pure Python: the same ``seed`` gives the same requests on
every host and Python 3 version (``random.Random`` with an integer seed).
The engine receives only the generated parameters.

Both workloads are closed loops with one client: the next request is sent
only after the previous one returned.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field, replace
from datetime import datetime, timedelta

from perfbench.datagen import EVENTS_DAYS, EVENTS_START

#: A seed kept out of every tuning run, for confirming a claimed gain.
HOLDOUT_SEED = 9001

#: Registry queries of ``lake_batch``. Each reads the lake through
#: ``sources.parquet.load_table`` and runs through the noop sink; together they
#: cover the trace, join, similarity (bucketed ANN), graph (HITS round loop)
#: and MinHash dedup operators. The list is short so that a run fits its
#: warm-up and timed passes in its time budget.
LAKE_QUERIES = (
    "eventlog_traces",
    "tpch_q3_shipping_priority",
    "similarity_topk_ann_bucketed",
    "customer_supplier_hits",
    "dedup_minhash_lsh",
)
#: The whole-log XES export of ``lake_batch`` through the sharded sink.
LAKE_EXPORTS = ("xes_export_sharded",)
LAKE_OPS = LAKE_QUERIES + LAKE_EXPORTS
#: ``lake_batch`` passes before timing starts; the first collects each
#: query's result for the oracle check, the second writes to the noop sink
#: as the timed passes do. On a 4-core host, runs with longer timed windows
#: took (first three passes | timed passes, in s) 18.3 8.4 7.4 | 6.9 6.9;
#: 16.8 7.6 6.9 | 6.5 6.8 6.7 6.8 6.6; 20.2 9.3 8.6 | 8.6 8.8 7.1 7.2; and
#: 16.4 9.7 7.8 | 7.7 8.5 7.7: from the third pass on, pass time stays
#: within the spread of the later passes. In a run of ten passes, pass time
#: still fell from 7.3 s (fourth pass) to 6.1-6.5 s (ninth and tenth); a run
#: cannot afford to wait for that.
LAKE_WARMUP_PASSES = 2

#: Requests of ``xes_selective`` run before timing starts: every flag
#: combination four times. On an idle 4-core host request latency fell
#: from 3.6 s (the first request) to medians of 0.58 s over requests 17-26
#: and 0.51 s over 27-36; the medians of later tens stayed within
#: 0.44-0.55 s up to request 155.
XES_WARMUP_OPS = 32

#: How each workload is driven and sized (why it exists: ``BENCHMARK.json``).
WORKLOADS = {
    "xes_selective": {
        "model": "closed loop, 1 client",
        "input": "events 100,000 rows, 1,500 resources; 1-5 resource ids per request; artifacts of 5-150 KB",
        "mix": "E1 40%, E2 40%, E3 20%; 5% windows outside the data; 15% repeats with use_cache=True "
               "(the last two shares from the benchmark's specification, the rest assumed: see TIMED_BLOCK)",
    },
    "lake_batch": {
        "model": "closed loop, 1 client; whole passes over a seeded order of the fixed op list",
        "input": "lineitem 60,000, orders 15,000, documents 500, embeddings 500, events 100,000 rows; "
                 "a full-log artifact of about 10 MB",
        "mix": ", ".join(LAKE_OPS),
    },
}


@dataclass(frozen=True)
class XesRequest:
    """One call of ``EventLogService.resource`` / ``resources`` / ``bot``."""

    endpoint: str  # "resource" (E1), "resources" (E2) or "bot" (E3)
    resource_ids: tuple[str, ...]  # the ids the request selects (resolved for E3)
    bot_name: str | None = None
    start_date: datetime | None = None
    end_date: datetime | None = None
    include_bot_messages: bool = False
    include_life_cycle_start: bool = False
    deserialize_remarks: bool = False
    use_cache: bool = False


@dataclass
class XesStream:
    """The bot-manager payload of a run and its warm-up and timed requests."""

    bots_payload: dict
    warmup: list[XesRequest] = field(default_factory=list)
    timed: list[XesRequest] = field(default_factory=list)


def _bots(rng: random.Random, resources: list[str], n_bots: int) -> tuple[dict, dict[str, tuple[str, ...]]]:
    """A bot-manager ``/bots`` payload with ``n_bots`` named bots of 1-5
    resources each, plus the entries the resolver must skip."""
    pool = rng.sample(resources, min(len(resources), n_bots * 5))
    payload: dict = {}
    bots: dict[str, tuple[str, ...]] = {}
    for b in range(n_bots):
        name = f"bot-{b:03d}"
        ids = tuple(pool[: rng.randint(1, 5)])
        pool = pool[len(ids):] or rng.sample(resources, 5)
        for rid in ids:
            payload[rid] = {"name": name, "active": True}
        bots[name] = ids
    payload["not-a-dict"] = "ignored"
    payload["no-name"] = {"active": False}
    return payload, bots


#: The timed request mix, repeated block after block: E1/E2/E3 requests at
#: 40/40/20%, one window outside the data (5%) and three repeats of earlier
#: requests with ``use_cache=True`` (15%). Fixed slots keep the mix of a
#: short run exact; the seed draws each request's ids, flags and window.
#:
#: Only the 5% empty and 15% cache-hit shares are specified for this
#: workload. No traffic record of the reference service exists; its one
#: observed request is E1 for one resource over a one-day window. Every
#: other share here is an assumption: the 40/40/20 endpoint split, 2-5 ids
#: per E2 call, no window in half the requests and 7 days or more in the
#: rest, each flag and ``use_cache`` set in half the requests.
TIMED_BLOCK = ("E1", "E2", "E1", "E2", "E3", "hit", "E1", "E2", "E1", "E2",
               "E3", "empty", "E1", "E2", "hit", "E1", "E2", "E3", "E1", "hit")


def _window(rng: random.Random, outside: bool = False) -> tuple[datetime | None, datetime | None]:
    if outside:  # entirely after the data: the EmptyEventLog path
        start = datetime(2030, 1, 1) + timedelta(days=rng.randint(0, 300))
        return start, start + timedelta(days=rng.randint(1, 30))
    r = rng.random()
    if r < 0.5:
        return None, None
    first = EVENTS_START + timedelta(days=rng.randint(0, EVENTS_DAYS - 8), seconds=rng.randint(0, 86_399))
    last = first + timedelta(days=rng.randint(7, EVENTS_DAYS))
    if r < 0.6:
        return first, None
    if r < 0.7:
        return None, last
    return first, last


def _request(rng: random.Random, resources: list[str], bots: dict[str, tuple[str, ...]], kind: str,
             flags: tuple[bool, bool, bool] | None = None, outside: bool = False) -> XesRequest:
    bot_name = None
    if kind == "E1":
        endpoint, ids = "resource", (rng.choice(resources),)
    elif kind == "E2":
        endpoint, ids = "resources", tuple(rng.sample(resources, rng.randint(2, 5)))
    else:
        endpoint = "bot"
        bot_name = rng.choice(sorted(bots))
        ids = bots[bot_name]
    start, end = _window(rng, outside)
    bot_msgs, starts, remarks = flags if flags is not None else (
        rng.random() < 0.5, rng.random() < 0.5, rng.random() < 0.5)
    return XesRequest(endpoint, ids, bot_name, start, end, bot_msgs, starts, remarks,
                      use_cache=rng.random() < 0.5)


def xes_selective(seed: int, resources: list[str], n_timed: int) -> XesStream:
    """Warm-up requests (every flag combination four times, every endpoint, one
    window outside the data) and ``n_timed`` timed requests in the
    ``TIMED_BLOCK`` mix."""
    rng = random.Random(seed)
    payload, bots = _bots(rng, resources, n_bots=max(2, min(40, len(resources) // 5)))
    stream = XesStream(bots_payload=payload)
    combos = [(a, b, c) for a in (False, True) for b in (False, True) for c in (False, True)]
    for i in range(XES_WARMUP_OPS):
        kind = ("E1", "E2", "E3")[i % 3]
        stream.warmup.append(_request(rng, resources, bots, kind, combos[i % len(combos)],
                                      outside=i == XES_WARMUP_OPS - 1))
    for i in range(n_timed):
        slot = TIMED_BLOCK[i % len(TIMED_BLOCK)]
        if slot == "hit":
            # Repeat a recent request, preferring one without a window: its
            # log cannot be empty, so the repeat is a cache hit.
            recent = [r for r in stream.timed[-10:] if not r.use_cache and r.end_date is None]
            prev = rng.choice([r for r in recent if r.start_date is None] or recent or stream.timed[-1:])
            stream.timed.append(replace(prev, use_cache=True))
        elif slot == "empty":
            stream.timed.append(_request(rng, resources, bots, rng.choice(("E1", "E2", "E3")), outside=True))
        else:
            stream.timed.append(_request(rng, resources, bots, slot))
    return stream


def lake_pass(seed: int, pass_index: int) -> list[str]:
    """The op order of one ``lake_batch`` pass (a seeded permutation)."""
    order = list(LAKE_OPS)
    random.Random(seed * 1_000 + pass_index).shuffle(order)
    return order
