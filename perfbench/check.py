"""Answer checker: compares a daemon response with the closed-form answer.

Every failed request gets exactly one reason:

* ``error``     - transport error or an HTTP/Prometheus error status;
* ``timeout``   - the client gave up, or the daemon answered ``timeout``;
* ``truncated`` - a correct prefix of an answer larger than the daemon's
  result-row cap, reported as ``success``;
* ``wrong``     - any value, timestamp or series that disagrees with the
  generator, or points missing from an answer under the cap.
"""

from __future__ import annotations

import json

from gen import RESULT_ROW_CAP, Request

REASONS = ("error", "timeout", "truncated", "wrong")
#: relative tolerance for computed answers; written samples must match
#: exactly
REL_TOL = 1e-9


def _close(got: float, want: float, exact: bool) -> bool:
    if exact:
        return got == want
    return abs(got - want) <= REL_TOL * max(1.0, abs(want))


def parse_result(body: bytes) -> dict:
    """Prometheus JSON -> ``{frozen labels: {step_ms: value}}``."""
    data = json.loads(body)["data"]
    out: dict = {}
    for entry in data["result"]:
        key = frozenset(entry["metric"].items())
        pairs = entry["values"] if "values" in entry else [entry["value"]]
        vals = out.setdefault(key, {})
        for t, v in pairs:
            vals[round(float(t) * 1000)] = float(v)
    return out


def check(req: Request, status: int | None, body: bytes) -> str | None:
    """``None`` when the response is right, else the failure reason."""
    if status is None:
        return "timeout"
    if req.kind == "write":
        return None if status == 204 else "error"
    if status == 503:
        return "timeout"
    if status != 200:
        return "error"
    try:
        got = parse_result(body)
    except (ValueError, KeyError, TypeError):
        return "error"
    want = req.expected or {}
    n_got = 0
    for key, vals in got.items():
        exp = want.get(key)
        if exp is None:
            return "wrong"
        for t, v in vals.items():
            if t not in exp or not _close(v, exp[t], req.exact):
                return "wrong"
        n_got += len(vals)
    n_want = req.points
    if n_got == n_want:
        return None
    if n_want > RESULT_ROW_CAP and n_got == RESULT_ROW_CAP:
        return "truncated"
    return "wrong"
