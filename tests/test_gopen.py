"""s3:// opens reuse one boto3 client per worker process.

Every media fetch and shard open goes through ``gopen``; building a boto3
client walks the credential chain, so a fresh client per open made each
s3:// fetch pay that walk. A counting fake ``boto3`` module stands in for
the real one: no client here ever reaches a store.
"""

from __future__ import annotations

import io
import sys
import types

from video_data_pipeline_spark.sources import gopen as gopen_mod


def _counting_boto3(monkeypatch) -> list[dict]:
    built: list[dict] = []

    def client(service, **kw):
        built.append(kw)
        return types.SimpleNamespace(
            get_object=lambda Bucket, Key: {"Body": io.BytesIO(f"{Bucket}/{Key}".encode())}
        )

    monkeypatch.setitem(sys.modules, "boto3", types.SimpleNamespace(client=client))
    monkeypatch.setattr(gopen_mod, "_S3_CLIENTS", {}, raising=False)
    for var in ("AWS_ENDPOINT_URL_S3", "AWS_ENDPOINT_URL", "AWS_DEFAULT_REGION"):
        monkeypatch.delenv(var, raising=False)
    return built


def test_s3_opens_share_one_client(monkeypatch):
    built = _counting_boto3(monkeypatch)
    for key in ("a.mp4", "b.mp4", "c.tar"):
        with gopen_mod.gopen(f"s3://bucket/{key}") as fh:
            assert fh.read() == f"bucket/{key}".encode()
    assert len(built) == 1
    assert built[0]["endpoint_url"] is None
    assert built[0]["region_name"] == "us-east-1"


def test_s3_client_per_endpoint_region_and_keys(monkeypatch):
    """The env is read before the lookup: a changed endpoint or region
    gets its own client, and so do explicit keys; each is built once."""
    built = _counting_boto3(monkeypatch)
    monkeypatch.setenv("AWS_ENDPOINT_URL", "http://localhost:9001")
    first = gopen_mod._s3_client()
    assert gopen_mod._s3_client() is first
    monkeypatch.setenv("AWS_ENDPOINT_URL", "http://localhost:9002")
    second = gopen_mod._s3_client()
    assert second is not first
    monkeypatch.setenv("AWS_DEFAULT_REGION", "eu-west-1")
    third = gopen_mod._s3_client()
    keyed = gopen_mod._s3_client(access_key_id="id", secret_access_key="secret")
    assert gopen_mod._s3_client(access_key_id="id", secret_access_key="secret") is keyed
    assert len({id(c) for c in (first, second, third, keyed)}) == 4
    assert [(b["endpoint_url"], b["region_name"], b["aws_access_key_id"]) for b in built] == [
        ("http://localhost:9001", "us-east-1", None),
        ("http://localhost:9002", "us-east-1", None),
        ("http://localhost:9002", "eu-west-1", None),
        ("http://localhost:9002", "eu-west-1", "id"),
    ]
