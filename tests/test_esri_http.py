"""EsriClient against a fake transport: token auth + expiry, 498
re-auth, backoff on transport failure, count/page/distinct surface —
mirroring the reference's connector tests offline; and its urllib
transport against the loopback endpoint's HTTP errors."""

from __future__ import annotations

import pytest

from cam_location_addressing_feature_service_etl_spark.sources.esri_http import (
    EsriClient,
    EsriError,
)

LAYER = "https://example.com/arcgis/rest/services/geocodes/FeatureServer/0"
TOKEN_URL = "https://example.com/arcgis/tokens/generateToken"


class FakeTransport:
    def __init__(self):
        self.tokens_issued = 0
        self.calls = []
        self.fail_next = 0
        self.reject_token = None  # token value to reject with 498

    def __call__(self, url: str, data: dict) -> dict:
        self.calls.append((url, dict(data)))
        if self.fail_next > 0:
            self.fail_next -= 1
            raise ConnectionError("transient")
        if url == TOKEN_URL:
            self.tokens_issued += 1
            return {"token": f"tok-{self.tokens_issued}", "expires_in": 900}
        if url == LAYER:
            return {"fields": [{"name": "objectid"}, {"name": "pid"}, {"name": "type"}]}
        # query endpoint
        if self.reject_token and data.get("token") == self.reject_token:
            return {"error": {"code": 498, "message": "Invalid token"}}
        if data.get("returnCountOnly") == "true":
            return {"count": 4500}
        if data.get("returnDistinctValues") == "true":
            return {"features": [{"attributes": {"type": "a"}}, {"attributes": {"type": "b"}}]}
        off = int(data["resultOffset"])
        n = min(int(data["resultRecordCount"]), 4500 - off)
        return {"features": [{"attributes": {"objectid": off + i}} for i in range(n)]}


def _client(t):
    return EsriClient(
        layer_url=LAYER, token_url=TOKEN_URL, username="u", password="p",
        transport=t, max_backoff_seconds=5.0,
    )


def test_token_fetched_once_and_attached():
    t = FakeTransport()
    c = _client(t)
    assert c.count() == 4500
    assert c.count("x > 1") == 4500
    assert t.tokens_issued == 1  # cached until expiry
    q = [d for u, d in t.calls if u.endswith("/query")]
    assert all(d["token"] == "tok-1" for d in q)


def test_498_triggers_reauth_and_retry():
    t = FakeTransport()
    t.reject_token = "tok-1"
    c = _client(t)
    assert c.count() == 4500
    assert t.tokens_issued == 2  # first token rejected → re-auth


def test_persistent_498_reauths_once_then_raises():
    """A server that rejects every token: one re-auth, then EsriError(498)
    — never an endless re-auth loop."""
    sent = []

    def always_498(url, data):
        sent.append(url)
        if len(sent) > 10:
            pytest.fail("client keeps re-sending a rejected token")
        if url == TOKEN_URL:
            return {"token": f"tok-{len(sent)}", "expires_in": 900}
        return {"error": {"code": 498, "message": "Invalid token"}}

    c = _client(always_498)
    c.max_backoff_seconds = 0.0
    with pytest.raises(EsriError) as err:
        c.count()
    assert err.value.code == 498
    assert sent == [TOKEN_URL, f"{LAYER}/query"] * 2


def test_http_400_raised_at_once_and_503_retried(loopback):
    """A 4xx rejects the request itself, so it is sent once; a 5xx is
    transient and retried with backoff."""
    from urllib.error import HTTPError

    for code, sends in ((400, 1), (503, 2)):
        layer = f"/status/{code}/esri"
        c = EsriClient(layer_url=f"{loopback.base}{layer}", max_backoff_seconds=0.01)
        with pytest.raises(HTTPError) as err:
            c.count()
        assert err.value.code == code
        assert loopback.hits[f"{layer}/query"] == sends


def test_backoff_survives_transient_failures():
    t = FakeTransport()
    t.fail_next = 2
    c = _client(t)
    assert c.count() == 4500


def test_backoff_budget_exhausts():
    t = FakeTransport()
    t.fail_next = 100
    c = _client(t)
    c.max_backoff_seconds = 0.05
    with pytest.raises(ConnectionError):
        c.count()


def test_paged_fetch_and_out_fields():
    t = FakeTransport()
    c = _client(t)
    feats = c.fetch_page(4000, 2000, out_fields=["objectid", "pid"])
    assert len(feats) == 500
    u, d = t.calls[-1]
    assert d["outFields"] == "objectid,pid"
    assert d["resultOffset"] == "4000"
    assert "orderByFields" not in d  # opt-in only


def test_paged_fetch_pins_order_when_asked():
    t = FakeTransport()
    c = _client(t)
    c.fetch_page(0, 100, order_by="objectid")
    u, d = t.calls[-1]
    assert d["orderByFields"] == "objectid"


def test_distinct_and_layer_fields():
    t = FakeTransport()
    c = _client(t)
    assert c.distinct_values("type") == ["a", "b"]
    assert c.layer_fields() == ["objectid", "pid", "type"]
