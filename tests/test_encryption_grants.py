"""Client-side staged-file encryption + post-load grant hooks.

Reference parity: fastsync/commons/target_snowflake.py:109-152 (AES
envelope encryption of staged files), target_snowflake/db_sync.py:265-284,
609-637 (grantee precedence + grant statements).
"""

from __future__ import annotations

import os
import secrets

import duckdb
import pytest
from pyspark.sql import functions as F

from pipelinewise_spark.operators.encryption import (
    read_encrypted_staged,
    rotate_master_key,
    write_encrypted_staged,
)
from pipelinewise_spark.operators.grants import (
    apply_grants,
    grant_statements,
    read_acl,
    resolve_grantees,
)

SCHEMA = "o_orderkey long, o_orderstatus string, o_totalprice double"


@pytest.fixture()
def staged(spark, tmp_path):
    df = spark.range(200).select(
        F.col("id").alias("o_orderkey"),
        F.when(F.col("id") % 2 == 0, "O").otherwise("F").alias(
            "o_orderstatus"
        ),
        (F.col("id") * 1.5).alias("o_totalprice"),
    )
    return df, str(tmp_path / "staged")


def test_encrypt_roundtrip(spark, staged):
    df, path = staged
    master = secrets.token_bytes(32)
    write_encrypted_staged(df, path, master)
    back = read_encrypted_staged(spark, path, master, SCHEMA)
    assert sorted(r.o_orderkey for r in back.collect()) == list(range(200))
    assert back.filter(
        (F.col("o_orderkey") == 3) & (F.col("o_orderstatus") == "F")
    ).count() == 1


def test_ciphertext_is_not_plaintext(spark, staged):
    df, path = staged
    write_encrypted_staged(df, path, secrets.token_bytes(16))
    blobs = [
        open(os.path.join(path, f), "rb").read()
        for f in os.listdir(path)
        if f.startswith("part-")
    ]
    assert blobs
    joined = b"".join(blobs)
    assert b"o_orderkey" not in joined  # field names never in the clear
    assert b'"O"' not in joined


def test_wrong_master_key_fails_before_data_read(spark, staged):
    df, path = staged
    write_encrypted_staged(df, path, secrets.token_bytes(32))
    with pytest.raises(Exception):
        read_encrypted_staged(
            spark, path, secrets.token_bytes(32), SCHEMA
        ).collect()


def test_rotate_master_key_keeps_data_files(spark, staged):
    df, path = staged
    old, new = secrets.token_bytes(32), secrets.token_bytes(32)
    write_encrypted_staged(df, path, old)
    before = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("part-")
    }
    rotate_master_key(spark, path, old, new)
    after = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
        if f.startswith("part-")
    }
    assert before == after  # ciphertext untouched: envelope property
    back = read_encrypted_staged(spark, path, new, SCHEMA)
    assert back.count() == 200


def test_grantee_precedence_matches_reference():
    cfg = {
        "default_target_schema_select_permissions": ["analyst"],
        "schema_mapping": {
            "tap_pg": {"target_schema_select_permissions": ["etl", "bi"]}
        },
    }
    assert resolve_grantees(cfg) == ["analyst"]
    assert resolve_grantees(cfg, "tap_pg") == ["etl", "bi"]
    # single-role string form and absent key
    assert resolve_grantees(
        {"default_target_schema_select_permissions": "r1"}
    ) == ["r1"]
    assert resolve_grantees({}) == []


def test_apply_grants_persists_acl_and_executes(tmp_path):
    executed: list[str] = []
    stmts = apply_grants(
        str(tmp_path),
        "analytics",
        "orders",
        {"default_target_schema_select_permissions": ["analyst"]},
        execute=executed.append,
    )
    assert stmts == grant_statements("analytics", "orders", ["analyst"])
    assert executed == stmts
    assert any("GRANT USAGE ON SCHEMA" in s for s in stmts)
    assert any("GRANT SELECT ON" in s for s in stmts)
    acl = read_acl(str(tmp_path))
    assert acl["select"] == ["analyst"]
    # idempotent re-run (the reference re-grants after every load)
    stmts2 = apply_grants(
        str(tmp_path),
        "analytics",
        "orders",
        {"default_target_schema_select_permissions": ["analyst"]},
    )
    assert stmts2 == stmts
    assert read_acl(str(tmp_path)) == acl


def test_apply_grants_noop_without_config(tmp_path):
    assert apply_grants(str(tmp_path), "s", "t", {}) == []
    assert read_acl(str(tmp_path)) is None


def test_runner_post_load_hooks(spark, sf_dir, tmp_path):
    """Config-driven post-load tail: archive_load_files with client-side
    encryption + grants, exactly the reference's target config keys."""
    from pipelinewise_spark.operators.encryption import read_encrypted_staged
    from pipelinewise_spark.plans.spec import PipelineSpec, StreamSpec
    from pipelinewise_spark.runner import PipelineRunner
    from pipelinewise_spark.sources.files import read_table

    master = secrets.token_bytes(32).hex()
    spec = PipelineSpec(
        pipeline_id="pg_to_lake",
        target_path=str(tmp_path),
        streams=[
            StreamSpec(
                tap_stream_id="orders",
                primary_keys=["o_orderkey"],
                replication_method="INCREMENTAL",
                replication_key="o_orderdate",
            )
        ],
        options={
            "archive_load_files": True,
            "client_side_encryption_master_key": master,
            "default_target_schema_select_permissions": ["analyst"],
        },
    )
    orders = read_table(spark, sf_dir, "orders").limit(500)
    runner = PipelineRunner(spark, spec)
    res = runner.run_stream(
        spec.stream("orders"), orders,
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    assert (res.rows_in, res.target_rows) == (500, 500)

    aroot = os.path.join(str(tmp_path), "_sdc_archive", "orders")
    # each load batch archives under its own subdir (reference
    # copy_to_archive retains every load file; overwrite would defeat the
    # feature for incremental runs)
    adir = os.path.join(aroot, "batch_000000")
    # archive exists, is encrypted, decrypts with the master key
    import json

    meta = json.load(open(os.path.join(adir, "_encryption_metadata.json")))
    assert meta["algorithm"] == "AES-GCM"
    back = read_encrypted_staged(
        spark, adir, bytes.fromhex(master),
        orders.schema.add("_sdc_extracted_at", "timestamp")
        .add("_sdc_batched_at", "timestamp")
        .add("_sdc_deleted_at", "timestamp"),
    )
    assert back.count() == 500
    # min/max replication-key metadata rides the archive
    am = json.load(open(os.path.join(adir, "_archive_metadata.json")))
    assert am["min_replication_key"] <= am["max_replication_key"]
    # grants applied against the table root
    acl = read_acl(os.path.join(str(tmp_path), "orders"))
    assert acl["select"] == ["analyst"]
    assert acl["schema"] == "pg_to_lake"

    # a SECOND load batch archives alongside the first, never over it —
    # and holds that run's batch (keys >= the first bookmark), not the
    # merged target
    bookmark = res.bookmark["replication_key_value"]
    want = {
        k for (k,) in duckdb.sql(
            f"SELECT o_orderkey FROM '{sf_dir}/orders.parquet' "
            f"WHERE o_orderdate >= TIMESTAMP '{bookmark}'"
        ).fetchall()
    }
    assert want, "fixture must leave rows past the first bookmark"
    res2 = runner.run_stream(
        spec.stream("orders"), read_table(spark, sf_dir, "orders"),
        extracted_at="2026-01-02 00:00:00", batched_at="2026-01-02 00:00:00",
    )
    assert res2.rows_in == len(want)
    adir2 = os.path.join(aroot, "batch_000001")
    back2 = read_encrypted_staged(
        spark, adir2, bytes.fromhex(master),
        orders.schema.add("_sdc_extracted_at", "timestamp")
        .add("_sdc_batched_at", "timestamp")
        .add("_sdc_deleted_at", "timestamp"),
    )
    got = [r.o_orderkey for r in back2.select("o_orderkey").collect()]
    assert sorted(got) == sorted(want)
    # first batch still intact and still decryptable
    back1 = read_encrypted_staged(
        spark, adir, bytes.fromhex(master),
        orders.schema.add("_sdc_extracted_at", "timestamp")
        .add("_sdc_batched_at", "timestamp")
        .add("_sdc_deleted_at", "timestamp"),
    )
    assert back1.count() == 500
    am2 = json.load(open(os.path.join(adir2, "_archive_metadata.json")))
    assert am2["batch"] == 1
    assert am2["min_replication_key"] == str(bookmark)


def test_yaml_grants_schema_override(spark, sf_dir, tmp_path):
    """YAML pipelines carry schema names into the grant hook: the
    per-source-schema override (schema_mapping) beats the default role
    list, and the ACL records the TARGET schema."""
    from pipelinewise_spark.plans.yaml_config import compile_yaml
    from pipelinewise_spark.runner import PipelineRunner
    from pipelinewise_spark.sources.files import read_table

    yaml_text = f"""
id: pg_to_lake
target_path: "{tmp_path}"
options:
  default_target_schema_select_permissions: [analyst]
  schema_mapping:
    public:
      target_schema_select_permissions: [bi, etl]
schemas:
  - source_schema: public
    target_schema: repl
    tables:
      - table_name: nation
        replication_method: FULL_TABLE
        primary_keys: [n_nationkey]
"""
    spec = compile_yaml(yaml_text)
    runner = PipelineRunner(spark, spec)
    runner.run(
        {"public-nation": read_table(spark, sf_dir, "nation")},
        extracted_at="2026-01-01 00:00:00", batched_at="2026-01-01 00:00:00",
    )
    acl = read_acl(os.path.join(str(tmp_path), "repl.nation"))
    assert acl["select"] == ["bi", "etl"]  # override beats default
    assert acl["schema"] == "repl"
