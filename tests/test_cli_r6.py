"""Round-6 CLI verbs: stop (graceful streaming stop via stop token),
test-connection, encrypt-string (+ vault YAML decryption), compile."""

from __future__ import annotations

import json
import os

import pytest

from pipelinewise_spark.__main__ import main as cli_main

YAML = """
id: tpch_to_lake
target_path: "{target}"
schemas:
  - source_schema: public
    tables:
      - table_name: orders
        replication_method: INCREMENTAL
        replication_key: o_orderdate
        primary_keys: [o_orderkey]
      - table_name: nation
        replication_method: FULL_TABLE
        primary_keys: [n_nationkey]
"""


def _write_yaml(tmp_path, target=None) -> str:
    p = str(tmp_path / "pipe.yml")
    with open(p, "w") as fh:
        fh.write(YAML.format(target=target or str(tmp_path / "lake")))
    return p


# ---------------------------------------------------------------- stop


def test_cli_stop_and_clear(capsys, tmp_path):
    cfg = _write_yaml(tmp_path)
    rc = cli_main(["stop", "--config", cfg])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["requested"]
    assert os.path.exists(out["token"])

    rc = cli_main(["stop", "--config", cfg, "--clear"])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["cleared"]
    assert not os.path.exists(out["token"])


def test_stop_token_stops_running_stream(spark, sf_dir, tmp_path):
    """A live (non-AvailableNow) stream stops gracefully when the token
    appears, and the checkpoint stays resumable."""
    import threading
    import time

    from pyspark.sql import functions as F

    from pipelinewise_spark.sources.files import read_table
    from pipelinewise_spark.streaming.bounded import (
        StopToken,
        await_with_stop,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events = read_table(spark, sf_dir, "events").select("event_id", "user_id")
    events.limit(200).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.withColumn("v", F.col("event_id") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    token = StopToken(str(tmp_path))
    t = threading.Timer(2.0, token.request)
    t.start()
    t0 = time.monotonic()
    result = await_with_stop(q, stop_token=token, poll_seconds=0.5)
    assert result == "stopped:token"
    assert time.monotonic() - t0 < 60
    assert not q.isActive
    # checkpoint is consistent: a restart with the same checkpoint works
    token.clear()
    q2 = (
        stream.withColumn("v", F.col("event_id") * 2)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 200


def test_runner_clears_stale_token(spark, sf_dir, tmp_path):
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file
    from pipelinewise_spark.runner import PipelineRunner
    from pipelinewise_spark.sources.files import read_table
    from pipelinewise_spark.streaming.bounded import StopToken

    cfg = _write_yaml(tmp_path)
    spec = compile_yaml_file(cfg)
    StopToken(spec.target_path).request("stale")
    runner = PipelineRunner(spark, spec)
    nation = read_table(spark, sf_dir, "nation")
    res = runner.run(
        {"public-nation": nation},
        extracted_at="2026-01-01 00:00:00",
        batched_at="2026-01-01 00:00:00",
    )
    n = nation.count()
    assert [(r.rows_in, r.target_rows) for r in res] == [(n, n)]
    assert not StopToken(spec.target_path).requested()


# ------------------------------------------------------ test-connection


def test_cli_test_connection_ok_and_missing(capsys, tmp_path, sf_dir):
    cfg = _write_yaml(tmp_path)
    rc = cli_main(["test-connection", "--config", cfg, "--source-dir", sf_dir])
    out = json.loads(capsys.readouterr().out)
    assert rc == 0 and out["ok"]
    assert all(s["ok"] for s in out["streams"])

    # a missing source file fails that stream and the exit code
    rc = cli_main(
        ["test-connection", "--config", cfg, "--source-dir", str(tmp_path)]
    )
    out = json.loads(capsys.readouterr().out)
    assert rc == 1 and not out["ok"]


def test_cli_test_connection_missing_column(capsys, tmp_path, sf_dir):
    p = str(tmp_path / "bad.yml")
    with open(p, "w") as fh:
        fh.write(
            f"""
id: bad
target_path: "{tmp_path / 'lake'}"
schemas:
  - source_schema: public
    tables:
      - table_name: orders
        replication_method: INCREMENTAL
        replication_key: no_such_column
        primary_keys: [o_orderkey]
"""
        )
    rc = cli_main(["test-connection", "--config", p, "--source-dir", sf_dir])
    out = json.loads(capsys.readouterr().out)
    assert rc == 1
    assert "no_such_column" in out["streams"][0]["error"]


# ------------------------------------------------- encrypt-string/vault


def test_vault_roundtrip_and_tamper():
    from pipelinewise_spark.plans.vault import vault_decrypt, vault_encrypt

    secret = "correct horse battery staple"
    token = vault_encrypt("s3cr3t-päss wörd\nline2", secret)
    assert token.startswith("$PWS_VAULT;1.0;HCTR256$")
    assert "s3cr3t" not in token
    assert vault_decrypt(token, secret) == "s3cr3t-päss wörd\nline2"
    # same plaintext re-encrypts to a different token (fresh salt)
    assert vault_encrypt("x", secret) != vault_encrypt("x", secret)
    with pytest.raises(ValueError):
        vault_decrypt(token, "wrong secret")
    head, _, mac = token.rpartition("$")
    flipped = ("0" if mac[0] != "0" else "1") + mac[1:]
    with pytest.raises(ValueError):
        vault_decrypt(f"{head}${flipped}", secret)


def test_cli_encrypt_string_and_yaml_decrypt(capsys, tmp_path, monkeypatch):
    from pipelinewise_spark.plans.yaml_config import compile_yaml_file

    secret_file = str(tmp_path / "vault_secret.txt")
    with open(secret_file, "w") as fh:
        fh.write("the-vault-secret\n")
    rc = cli_main(
        ["encrypt-string", "--string", "db-password-42", "--secret",
         secret_file]
    )
    token = capsys.readouterr().out.strip()
    assert rc == 0 and token.startswith("$PWS_VAULT")

    # the token drops into pipeline YAML and decrypts at compile time
    cfg = str(tmp_path / "enc.yml")
    with open(cfg, "w") as fh:
        fh.write(
            f"""
id: enc_pipe
target_path: "{tmp_path / 'lake'}"
options:
  jdbc_password: "{token}"
schemas:
  - source_schema: public
    tables:
      - table_name: orders
        replication_method: FULL_TABLE
        primary_keys: [o_orderkey]
"""
        )
    monkeypatch.setenv("PWS_VAULT_SECRET_FILE", secret_file)
    spec = compile_yaml_file(cfg)
    assert spec.options["jdbc_password"] == "db-password-42"

    # no secret -> hard error, never a half-configured run
    monkeypatch.delenv("PWS_VAULT_SECRET_FILE")
    monkeypatch.delenv("PWS_VAULT_SECRET", raising=False)
    with pytest.raises(ValueError, match="vault secret"):
        compile_yaml_file(cfg)


# ------------------------------------------------------------ compile


def test_cli_compile_persists_spec_and_schemas(capsys, tmp_path, sf_dir):
    cfg = _write_yaml(tmp_path)
    out_dir = str(tmp_path / "compiled")
    rc = cli_main(
        ["compile", "--config", cfg, "--out", out_dir, "--source-dir", sf_dir]
    )
    out = json.loads(capsys.readouterr().out)
    assert rc == 0
    spec = json.load(open(os.path.join(out_dir, "pipeline.json")))
    assert spec["pipeline_id"] == "tpch_to_lake"
    assert {s["tap_stream_id"] for s in spec["streams"]} == {
        "public-orders", "public-nation",
    }
    assert spec["streams"][0]["replication_method"] in (
        "FULL_TABLE", "INCREMENTAL",
    )
    schema = json.load(
        open(os.path.join(out_dir, "public-orders.schema.json"))
    )
    assert "o_orderkey" in schema["properties"]
    assert len(out["compiled"]) == 3


def test_vault_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pipelinewise_spark.plans.vault import vault_decrypt, vault_encrypt

    @settings(max_examples=50, deadline=None)
    @given(
        plaintext=st.text(min_size=0, max_size=300),
        secret=st.text(min_size=1, max_size=60),
    )
    def check(plaintext, secret):
        token = vault_encrypt(plaintext, secret)
        assert vault_decrypt(token, secret) == plaintext
        # ciphertext never contains the plaintext bytes (beyond trivially
        # short strings whose hex could collide by chance)
        if len(plaintext) >= 4:
            assert plaintext.encode("utf-8").hex() not in token

    check()
