"""Golden end-to-end test of the 16-stage customer pipeline
(SURVEY §5.2) over a synthesized reference-shaped staging fixture
(FIXTURES.md §B), plus the SCD2 property invariants (SURVEY §5.4).

The fixture is deterministic (seeded), small, and adversarial on
purpose: duplicate loyalty rows (J9 fan-out hazard), multi-address and
multi-acquisition customers (W1/W2), NULL ``udate`` (the :219-224
split), customers with zero/multiple notification topics (SQL-8/9
defaults), and app users in the invalid-email status band (P5).
"""

from __future__ import annotations

import contextlib
import datetime
import io
import random

import pytest
from pyspark.sql import functions as F

from pandas_analysis_with_postgres_spark.pipelines import (
    TOPIC_FLAGS,
    build_wide_customer,
    run_customer_pipeline,
)

N_CUST = 40
TS = datetime.datetime(2024, 1, 1)
T2020 = datetime.datetime(2020, 1, 1)
NOW = datetime.datetime(2024, 7, 1)


def _staging_tables(spark):
    rng = random.Random(42)
    topics = list(TOPIC_FLAGS)

    cust = [(i, 100 + i, 10 + i % 3, 1 + i % 3, None, TS) for i in range(1, N_CUST + 1)]
    party = [
        (
            100 + i,
            1 + i % 2,
            20 + i % 2,
            f"first{i}",
            f"last{i}",
            f"u{i}@x.test",
            TS,
            None if i % 4 == 0 else TS + datetime.timedelta(days=i),
        )
        for i in range(1, N_CUST + 1)
    ]
    gnl_st = [(s, f"status{s}") for s in (10, 11, 12, 20, 21, *range(174, 179))]
    cust_tp = [(1, "retail"), (2, "corporate"), (3, "vip")]
    gnl_tp = [(1, "person"), (2, "org")]
    lang = [(1, "turkish"), (2, "english"), (3, "german")]

    acct, card = [], []
    acct_id = 0
    for i in range(1, N_CUST + 1):
        for _ in range(rng.randrange(0, 4)):
            acct_id += 1
            acct.append((acct_id, i))
            if rng.random() < 0.5:
                card.append((1000 + acct_id, acct_id))

    addr = []
    addr_id = 0
    for i in range(1, N_CUST + 1):
        for _ in range(rng.randrange(0, 3)):
            addr_id += 1
            addr.append((addr_id, i, f"city{addr_id}", f"cntry{addr_id % 5}"))

    # Duplicate membership rows on purpose (J9 fan-out hazard).
    lylty = [(j, i) for j, i in enumerate(range(1, N_CUST + 1, 3))]
    lylty += [(900 + j, i) for j, (_, i) in enumerate(lylty[:4])]

    acq = []
    acq_id = 0
    for i in range(1, N_CUST + 1):
        for _ in range(rng.randrange(0, 3)):
            acq_id += 1
            acq.append((acq_id, i, f"src{acq_id}", f"med{acq_id % 3}", f"cmp{acq_id % 2}"))

    gifts = [(i, "T100") for i in range(1, N_CUST + 1, 5)] + [(2, " ")]
    refer = [
        (i, 10751, "a", "b") for i in range(1, N_CUST + 1, 7)
    ] + [(3, 10751, "same", "same"), (4, 99, "a", "b")]

    prefs = []
    for i in range(1, N_CUST + 1):
        if i % 3 == 0:
            continue  # no pref rows → defaults apply
        for topic in rng.sample(topics, rng.randrange(1, 4)):
            prefs.append((i, 1, topic, rng.randrange(0, 2)))
        if i == 1:
            prefs.append((1, 0, topics[0], 1))  # inactive row must be ignored
    prefs.append((2, 1, 10000, 0))  # explicit 0 must NOT be defaulted away

    sys_prefs = [(1, topic, 1 if k % 2 == 0 else 0) for k, topic in enumerate(topics)]

    apl_user = [
        (100 + i, 1 + i % 3, 1 + (i + 1) % 3, 175 if i % 6 == 0 else 20)
        for i in range(1, N_CUST + 1, 2)
    ]

    return {
        "stg_dce_cust": spark.createDataFrame(
            cust,
            "cust_id long, party_id long, st_id int, cust_tp_id int, "
            "new_cust_id long, cust_since timestamp",
        ),
        "stg_dce_party": spark.createDataFrame(
            party,
            "party_id long, party_tp_id int, st_id int, frst_name string, "
            "lst_name string, email string, cdate timestamp, udate timestamp",
        ),
        "stg_dce_gnl_st": spark.createDataFrame(gnl_st, "gnl_st_id int, name string"),
        "stg_dce_cust_tp": spark.createDataFrame(cust_tp, "cust_tp_id int, name string"),
        "stg_dce_gnl_tp": spark.createDataFrame(gnl_tp, "gnl_tp_id int, name string"),
        "stg_dce_lang": spark.createDataFrame(lang, "lang_id int, name string"),
        "stg_dce_cust_acct": spark.createDataFrame(
            acct, "cust_acct_id long, cust_id long"
        ),
        "stg_dce_credit_card_cust_acct": spark.createDataFrame(
            card, "credit_card_id long, cust_acct_id long"
        ),
        "stg_dce_addr": spark.createDataFrame(
            addr, "addr_id long, row_id long, city_name string, cntry_name string"
        ),
        "stg_dce_lylty_prg_memb": spark.createDataFrame(
            lylty, "lylty_prg_memb_id long, cust_id long"
        ),
        "stg_dce_cust_acq": spark.createDataFrame(
            acq,
            "cust_acq_id long, cust_id long, web_acq_source string, "
            "web_acq_medium string, web_acq_campaign string",
        ),
        "dwf_gift_detail": spark.createDataFrame(
            gifts, "src_cust_id long, trgt_cust_id string"
        ),
        "stg_dce_refer_invit_hstr": spark.createDataFrame(
            refer, "src_cust_id long, st_id int, src_alt_val string, trgt_alt_val string"
        ),
        "stg_dce_cust_cmmnc_pref": spark.createDataFrame(
            prefs, "cust_id long, is_actv int, ntf_topic_id int, is_slct int"
        ),
        "stg_dce_syst_cmmnc_pref": spark.createDataFrame(
            sys_prefs, "is_actv int, ntf_topic_id int, is_slct int"
        ),
        "stg_dce_apl_user": spark.createDataFrame(
            apl_user,
            "party_id long, pref_lang_id int, ntf_pref_lang_id int, st_id int",
        ),
    }


@pytest.fixture(scope="module")
def tables(spark):
    return _staging_tables(spark)


@pytest.fixture(scope="module")
def wide(spark, tables):
    df = build_wide_customer(tables)
    df.cache().count()
    yield df
    df.unpersist()


def test_wide_row_count_no_fanout(wide):
    """Duplicate loyalty rows and multi-topic prefs must not multiply
    customers (the J9 hazard the reference carries)."""
    assert wide.count() == N_CUST
    assert wide.select("cust_id").distinct().count() == N_CUST


def test_latest_address_wins(wide, tables):
    """W1: the surviving address is the max addr_id per customer."""
    addr = tables["stg_dce_addr"]
    latest = {
        r["row_id"]: r["city_name"]
        for r in addr.groupBy("row_id")
        .agg(F.max_by("city_name", "addr_id").alias("city_name"))
        .collect()
    }
    for r in wide.select("cust_id", "city_name").collect():
        assert r["city_name"] == latest.get(r["cust_id"]), r


def test_flags_default_vs_explicit(wide):
    """SQL-9 semantics: missing pref rows → system default; explicit 0
    stays 0 (COALESCE only fills NULL)."""
    defaults = {name: 1 if k % 2 == 0 else 0 for k, name in enumerate(TOPIC_FLAGS.values())}
    no_pref = wide.filter(F.col("cust_id") == 3).first()  # cust 3: no pref rows
    for name, dflt in defaults.items():
        assert no_pref[name] == dflt, (name, no_pref[name], dflt)
    cust2 = wide.filter(F.col("cust_id") == 2).first()
    assert cust2["is_marketing"] == 0  # explicit 0, default is 1


def test_membership_and_gift_flags(wide):
    row = {r["cust_id"]: r for r in wide.collect()}
    assert row[1]["is_prg_memb"] == 1 and row[2]["is_prg_memb"] == 0
    assert row[1]["is_gift"] == 1  # trgt 'T100'
    assert row[2]["is_gift"] == 0  # only a blank-sentinel row
    assert row[3]["is_referral"] == 0  # alt vals equal → intended filter drops
    assert row[4]["is_referral"] == 0  # st_id != 10751
    assert row[1]["is_referral"] == 1


def test_invalid_email_band(wide):
    """P5: app users with st_id in 174..178 are invalid-email."""
    flagged = {r["cust_id"]: r["invalid_email"] for r in wide.collect()}
    # apl_user exists for odd i; st_id=175 when i % 6 == 0 → none of the
    # odd i qualify except i ≡ 0 mod 6 — so all odd users are 0 except
    # those absent (NULL).
    assert flagged[7] == 0
    assert flagged[2] is None  # no app user row at all


def _prior(wide):
    """Yesterday's warehouse: the even customers, current since 2020."""
    dim0 = wide.filter(F.col("cust_id") % 2 == 0).withColumn("etl_date", F.lit(T2020))
    hstr0 = dim0.drop("etl_date").withColumns(
        {
            "effective_from_date": F.lit(T2020),
            "effective_to_date": F.lit(None).cast("timestamp"),
            "is_current_record": F.lit(1),
            "sys_effective_from_date": F.lit(T2020),
            "sys_effective_to_date": F.lit(None).cast("timestamp"),
        }
    )
    return dim0, hstr0


def test_upsert_and_scd2_invariants(spark, tables, wide):
    dim0, hstr0 = _prior(wide)
    out = run_customer_pipeline(
        tables,
        dwd_customer=dim0,
        dwd_hstr_customer=hstr0,
        now=F.lit(NOW),
    )
    dim = out["dim"].cache()
    hstr = out["history"].cache()

    # E2: every customer present exactly once, stamped.
    assert dim.count() == N_CUST
    assert dim.filter(F.col("etl_date") != F.lit(NOW)).count() == 0

    # E3 invariants (SURVEY §5.4).
    per_key_current = (
        hstr.filter(F.col("is_current_record") == 1).groupBy("cust_id").count()
    )
    assert per_key_current.filter(F.col("count") > 1).count() == 0
    assert per_key_current.count() == N_CUST

    # Odd customers were absent from history → inserted as current, one
    # version total. Even customers were identical to staged (same wide
    # build) → untouched, still one version dated 2020.
    versions = hstr.groupBy("cust_id").count()
    assert versions.filter(F.col("count") != 1).count() == 0
    untouched = hstr.filter(
        (F.col("cust_id") % 2 == 0) & (F.col("sys_effective_from_date") != F.lit(T2020))
    )
    assert untouched.count() == 0

    # A real change round: bump one column for three customers.
    staged2 = wide.withColumn(
        "email",
        F.when(F.col("cust_id").isin(2, 4, 5), F.lit("changed@x.test")).otherwise(
            F.col("email")
        ),
    )
    from pandas_analysis_with_postgres_spark.operators.scd2 import scd2_apply

    compare = [
        c
        for c in staged2.columns
        if c not in {"cust_id", "udate_party", "cdate_party"}
    ]
    hstr2 = scd2_apply(
        hstr,
        staged2,
        "cust_id",
        change_ts_col="udate_party",
        create_ts_col="cdate_party",
        now=F.lit(NOW + datetime.timedelta(days=1)),
        compare_cols=compare,
    ).cache()

    changed = hstr2.filter(F.col("email") == "changed@x.test")
    assert changed.count() == 3
    assert changed.filter(F.col("is_current_record") != 1).count() == 0
    closed = hstr2.filter(
        F.col("cust_id").isin(2, 4, 5) & (F.col("is_current_record") == 0)
    )
    assert closed.count() == 3
    # Close-out date chains to the successor's open date
    # (coalesce(udate, cdate) — cust 4 has NULL udate → cdate).
    succ = {
        r["cust_id"]: r["effective_from_date"]
        for r in changed.select("cust_id", "effective_from_date").collect()
    }
    for r in closed.select("cust_id", "effective_to_date").collect():
        assert r["effective_to_date"] == succ[r["cust_id"]], r

    # Idempotence: reapplying the same staged frame changes nothing.
    hstr3 = scd2_apply(
        hstr2,
        staged2,
        "cust_id",
        change_ts_col="udate_party",
        create_ts_col="cdate_party",
        now=F.lit(NOW + datetime.timedelta(days=2)),
        compare_cols=compare,
    )
    assert hstr3.count() == hstr2.count()
    assert hstr3.exceptAll(hstr2).count() == 0
    dim.unpersist()
    hstr.unpersist()
    hstr2.unpersist()


def test_dim_and_history_agree_on_a_twice_staged_key(spark, tables, wide):
    """A cust_id staged twice (pre-customer row ∪ wide row) must leave
    the SAME survivor in both sinks: the row with the latest
    coalesce(udate_party, cdate_party) — here the 2023 wide row, even
    though the 2020 pre row's email sorts higher."""
    party = tables["stg_dce_party"].withColumns(
        {
            "email": F.when(F.col("party_id") == 105, F.lit("aaa")).otherwise(
                F.col("email")
            ),
            "udate": F.when(
                F.col("party_id") == 105, F.lit(datetime.datetime(2023, 1, 1))
            ).otherwise(F.col("udate")),
        }
    )
    t = {**tables, "stg_dce_party": party}
    pre = wide.filter(F.col("cust_id") == 5).withColumns(
        {"email": F.lit("zzz"), "udate_party": F.lit(T2020)}
    )
    dim0, hstr0 = _prior(wide)
    out = run_customer_pipeline(
        t, dwd_customer=dim0, dwd_hstr_customer=hstr0, dwd_pre_customer=pre,
        now=F.lit(NOW),
    )
    want = ("aaa", datetime.datetime(2023, 1, 1))
    dim = out["dim"].filter(F.col("cust_id") == 5).collect()
    assert [(r["email"], r["udate_party"]) for r in dim] == [want]
    cur = (
        out["history"]
        .filter((F.col("cust_id") == 5) & (F.col("is_current_record") == 1))
        .collect()
    )
    assert [(r["email"], r["udate_party"]) for r in cur] == [want]


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sinks_read_one_staged_materialization(spark, tables, wide, tmp_path):
    """Both sinks read the ONE staged materialization (a Scan
    ExistingRDD leaf), never the staging tables, and the SCD2 close-out
    is one join against the changed keys, not inner + anti."""
    t = {}
    for name, df in tables.items():
        df.write.parquet(str(tmp_path / name))
        t[name] = spark.read.parquet(str(tmp_path / name))
    dim0, hstr0 = _prior(wide)
    out = run_customer_pipeline(
        t, dwd_customer=dim0, dwd_hstr_customer=hstr0, now=F.lit(NOW)
    )
    for k in ("dim", "history"):
        p = _explain(out[k])
        assert "stg_dce_" not in p, (k, p)
        assert "Scan ExistingRDD" in p, (k, p)
    p = _explain(out["history"])
    assert "LeftAnti" not in p, p
    close_joins = [
        l for l in p.splitlines() if l.strip().startswith("Right keys") and "__ck" in l
    ]
    assert len(close_joins) == 1, p
