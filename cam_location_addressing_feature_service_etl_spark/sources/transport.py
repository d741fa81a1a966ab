"""The HTTP edge shared by the ESRI and SPARQL clients: a stdlib urllib
form POST that returns the parsed JSON body, and the retry policy
around it (the reference's exponential backoff, ``crud.py:19-24``)."""

from __future__ import annotations

import json
import time
import urllib.request
from collections.abc import Callable
from typing import TypeVar
from urllib.error import HTTPError
from urllib.parse import urlencode

T = TypeVar("T")

#: ``send(url, form) -> parsed JSON``; injected so clients test offline
Transport = Callable[[str, dict], dict]


def post_json(url: str, form: dict, headers: dict[str, str] | None = None) -> dict:
    req = urllib.request.Request(
        url, data=urlencode(form).encode(), headers=headers or {}, method="POST"
    )
    with urllib.request.urlopen(req, timeout=600) as resp:
        return json.loads(resp.read().decode())


class RequestError(RuntimeError):
    """The server answered and rejected the request; sending the same
    request again cannot succeed, so it is never retried."""


def _permanent(exc: Exception) -> bool:
    # 408 (request timeout) and 429 (rate limited) clear with time;
    # every other 4xx rejects the request itself
    if isinstance(exc, HTTPError):
        return 400 <= exc.code < 500 and exc.code not in (408, 429)
    return isinstance(exc, RequestError)


def with_backoff(call: Callable[[], T], max_backoff_seconds: float) -> T:
    """``call()``, retried after 1 s, 2 s, 4 s, ... until the waits
    reach ``max_backoff_seconds``; the last failure is raised. A
    permanent failure (``RequestError``, HTTP 4xx other than 408/429)
    is raised at once."""
    delay, waited = 1.0, 0.0
    while True:
        try:
            return call()
        except Exception as exc:
            if _permanent(exc) or waited >= max_backoff_seconds:
                raise
            time.sleep(min(delay, max_backoff_seconds - waited))
            waited += delay
            delay *= 2
