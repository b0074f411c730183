"""O7 config engine + O3 HTTP retry client + O8 logging setup, and the
session's default heap.

Pure-Python (no Spark session needed): override precedence, dot-path
lookup, defaulting, and every retry path through a scripted fake
transport.
"""

from __future__ import annotations

import logging

import pytest

from etl_airflow_spotify_spark.config import (Config, setup_logging)
from etl_airflow_spotify_spark.sources.http_client import (
    HttpError, HttpSpotifyClient, TransportError)


# -- Config (O7) -------------------------------------------------------------


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


def test_yaml_load_and_dot_path_get(tmp_path):
    cfg_path = _write(tmp_path, "c.yaml", """
spotify:
  client_id: fileid
  client_secret: filesecret
parameters:
  limit: 25
""")
    cfg = Config(cfg_path, env={}, dotenv_path=tmp_path / "nope.env")
    assert cfg.get("spotify.client_id") == "fileid"
    assert cfg.get("parameters.limit") == 25
    assert cfg.get("missing.key", "dflt") == "dflt"
    assert cfg.get("spotify.client_id.too.deep", "x") == "x"


def test_env_overrides_file(tmp_path):
    cfg_path = _write(tmp_path, "c.yaml",
                      "spotify:\n  client_id: fileid\n")
    cfg = Config(cfg_path, env={"SPOTIFY_CLIENT_ID": "envid",
                                "SPOTIFY_LIMIT": "10"},
                 dotenv_path=tmp_path / "nope.env")
    assert cfg.get("spotify.client_id") == "envid"
    assert cfg.get("parameters.limit") == 10  # int-coerced


def test_dotenv_fills_but_does_not_override_env(tmp_path):
    dotenv = _write(tmp_path, ".env",
                    "SPOTIFY_CLIENT_ID=dotid\n"
                    "SPOTIFY_COUNTRY='MX'\n"
                    "# comment\n")
    cfg = Config(str(tmp_path / "none.yaml"),
                 env={"SPOTIFY_CLIENT_ID": "envid"}, dotenv_path=dotenv)
    assert cfg.get("spotify.client_id") == "envid"   # env wins
    assert cfg.get("parameters.country") == "MX"     # dotenv fills gap


def test_validation_defaults_and_unparseable_limit(tmp_path):
    cfg = Config(str(tmp_path / "none.yaml"),
                 env={"SPOTIFY_LIMIT": "many"},
                 dotenv_path=tmp_path / "nope.env")
    assert cfg.get("output.format") == "csv"     # defaulted
    assert cfg.get("paths.base") == "./data"     # defaulted
    assert cfg.get("parameters.limit") == "many"  # kept as-is


def test_malformed_yaml_yields_empty_config(tmp_path):
    cfg_path = _write(tmp_path, "bad.yaml", "a: [unclosed\n  b: }{")
    cfg = Config(cfg_path, env={}, dotenv_path=tmp_path / "nope.env")
    assert cfg.get("a") is None
    assert cfg.get("output.format") == "csv"


def test_typed_accessors(tmp_path):
    cfg_path = _write(tmp_path, "c.yaml", """
spotify: {client_id: i, client_secret: s}
paths: {base: /d}
output: {format: parquet}
""")
    cfg = Config(cfg_path, env={}, dotenv_path=tmp_path / "nope.env")
    assert cfg.get_spotify_credentials() == {"client_id": "i",
                                             "client_secret": "s"}
    paths = cfg.get_data_paths()
    assert paths["base"] == "/d" and paths["raw"].endswith("raw")
    assert cfg.get_output_config()["format"] == "parquet"
    assert cfg.get_parameters()["limit"] == 50


# -- setup_logging (O8) ------------------------------------------------------


def test_setup_logging_level_and_file(tmp_path):
    cfg_path = _write(tmp_path, "c.yaml", f"""
logging:
  level: DEBUG
  file: {tmp_path}/logs/run.log
""")
    cfg = Config(cfg_path, env={}, dotenv_path=tmp_path / "nope.env")
    lg = logging.getLogger("etl_test_isolated")
    lg.handlers.clear()
    out = setup_logging(cfg, root=lg)
    assert out.level == logging.DEBUG
    assert any(isinstance(h, logging.FileHandler) for h in out.handlers)
    lg.info("hello file")
    for h in out.handlers:
        h.flush()
        h.close()
    assert "hello file" in (tmp_path / "logs" / "run.log").read_text()
    lg.handlers.clear()


# -- session sizing ----------------------------------------------------------


def test_default_driver_memory_fits_the_box():
    """The default heap is at most half of what the box has free (a
    24g heap on a 15 GiB box got the JVM OOM-killed), capped at 24g."""
    from etl_airflow_spotify_spark.session import default_driver_memory

    heap = default_driver_memory()
    assert heap.endswith("m")
    mib = int(heap[:-1])
    assert 512 <= mib <= 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            avail = next(int(line.split()[1]) // 1024 for line in f
                         if line.startswith("MemAvailable:"))
    except OSError:
        pytest.skip("no /proc/meminfo")
    # MemAvailable moves between the two reads; allow 1 GiB of drift
    assert mib <= max(512, avail // 2 + 512)


# -- HttpSpotifyClient (O3) --------------------------------------------------


class _Resp:
    def __init__(self, status, body=None, headers=None):
        self.status_code = status
        self.headers = headers or {}
        self._body = body or {}

    def json(self):
        return self._body


class ScriptedTransport:
    """Pops one scripted response (or TransportError) per GET; every
    POST to the auth URL mints token-N."""

    def __init__(self, script):
        self.script = list(script)
        self.calls = []
        self.tokens = 0

    def __call__(self, method, url, *, headers=None, params=None, data=None):
        self.calls.append((method, url, headers or {}))
        if method == "POST":
            self.tokens += 1
            return _Resp(200, {"access_token": f"token-{self.tokens}"})
        nxt = self.script.pop(0)
        if isinstance(nxt, Exception):
            raise nxt
        return nxt


def _client(script, **kw):
    t = ScriptedTransport(script)
    sleeps = []
    c = HttpSpotifyClient("id", "secret", t, backoff_base_s=0.5,
                          sleep=sleeps.append, **kw)
    return c, t, sleeps


def test_401_refreshes_token_and_replays_once():
    ok = _Resp(200, {"albums": {"items": [{"id": "a"}]}})
    c, t, _ = _client([_Resp(401), ok])
    assert c.get_new_releases() == [{"id": "a"}]
    assert t.tokens == 2  # initial mint + refresh
    gets = [h for m, u, h in t.calls if m == "GET"]
    assert gets[0]["Authorization"] == "Bearer token-1"
    assert gets[1]["Authorization"] == "Bearer token-2"


def test_second_401_raises():
    c, _, _ = _client([_Resp(401), _Resp(401)])
    with pytest.raises(HttpError) as e:
        c.get_new_releases()
    assert e.value.status_code == 401


def test_429_honors_retry_after_then_succeeds():
    ok = _Resp(200, {"categories": {"items": []}})
    c, _, sleeps = _client([_Resp(429, headers={"Retry-After": "7"}), ok])
    assert c.get_categories() == []
    assert sleeps == [7.0]


def test_5xx_exponential_backoff_then_raises():
    c, _, sleeps = _client([_Resp(500)] * 4, max_retries=3)
    with pytest.raises(HttpError):
        c.get_artist_info("art1")
    assert sleeps == [0.5, 1.0, 2.0]  # base * 2^attempt


def test_transport_error_retried_then_succeeds():
    ok = _Resp(200, {"audio_features": [{"id": "t"}]})
    c, _, sleeps = _client([TransportError("timeout"), ok])
    assert c.get_audio_features(["t"]) == [{"id": "t"}]
    assert sleeps == [0.5]


def test_audio_features_batches_without_truncation():
    ids = [f"t{i}" for i in range(250)]
    script = [_Resp(200, {"audio_features": [{"id": x} for x in chunk]})
              for chunk in (ids[0:100], ids[100:200], ids[200:250])]
    c, t, _ = _client(script)
    out = c.get_audio_features(ids)
    assert [d["id"] for d in out] == ids  # all 250, three GETs
    assert sum(1 for m, _, _ in t.calls if m == "GET") == 3


def test_404_artist_returns_none():
    c, _, _ = _client([_Resp(404)])
    assert c.get_artist_info("artX") is None


def test_pipeline_config_binds_from_config_engine(tmp_path):
    from etl_airflow_spotify_spark.spotify.pipeline import PipelineConfig

    cfg_path = _write(tmp_path, "c.yaml", """
paths: {base: /out}
output: {format: csv}
parameters: {limit: 20, country: MX}
""")
    cfg = Config(cfg_path, env={}, dotenv_path=tmp_path / "nope.env")
    pc = PipelineConfig.from_config(cfg)
    assert (pc.output_dir, pc.fmt, pc.limit, pc.country) == \
        ("/out", "csv", 20, "MX")


def test_default_transport_off_by_default(monkeypatch):
    from etl_airflow_spotify_spark.sources.http_client import \
        default_transport

    monkeypatch.delenv("SPOTIFY_REAL_TRANSPORT", raising=False)
    assert default_transport() is None


def test_requests_transport_normalizes_network_errors(monkeypatch):
    """Production integration point: the wrapper's only logic is the
    RequestException -> TransportError normalization, checked here with
    a patched requests.request (no socket; skipped if the production-
    only requests package is absent)."""
    requests = pytest.importorskip("requests")
    from etl_airflow_spotify_spark.sources.http_client import (
        TransportError, requests_transport)

    def boom(method, url, **kw):
        raise requests.ConnectionError("nope")

    monkeypatch.setattr(requests, "request", boom)
    t = requests_transport(timeout_s=0.5)
    with pytest.raises(TransportError):
        t("GET", "http://example.invalid/none")
