"""queries_streams: the query corpus, then the stream sinks, in one run.

An operation is either one registry query (``corpus``) or one
micro-batch epoch (``streams``); both are bound by per-job cost rather
than data, so they share a run and its set-up. A round is one corpus
pass followed by one streams cycle, and ``total_s`` is the sum of the
two. The streams half is primed, the corpus half is not (see the two
modules).
"""

from __future__ import annotations

import os

import corpus
import streams
from harness import Bench

ROUND_S = corpus.PASS_S + streams.CYCLE_S


def generate(seed: int, work: str) -> dict:
    return {"corpus": corpus.generate(seed, work), "streams": streams.generate(seed, work)}


def prime(b: Bench, inputs: dict, root: str) -> None:
    streams.prime(b, inputs["streams"], root)


def measure(b: Bench, inputs: dict, seconds: float, root: str) -> dict:
    rounds = max(1, round(seconds / ROUND_S))
    q = corpus.measure(b, inputs["corpus"], rounds * corpus.PASS_S,
                       os.path.join(root, "corpus"))
    s = streams.measure(b, inputs["streams"], rounds * streams.CYCLE_S,
                        os.path.join(root, "streams"))
    chk = q.pop("checker")
    sc = s.pop("checker")
    chk.attempted += sc.attempted
    chk.failed += sc.failed
    chk.problems += sc.problems
    chk.selfcheck = bool(chk.selfcheck and sc.selfcheck)
    rec = dict(s)
    rec.update({"ops": q["ops"] + s["ops"],
                "totals": [x + y for x, y in zip(q["totals"], s["totals"])],
                "corpus_ops": q["ops"], "stream_ops": s["ops"],
                "per_query": q["per_query"], "checker": chk})
    return rec
