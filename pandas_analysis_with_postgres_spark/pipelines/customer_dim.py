"""The reference workload end-to-end: 16-stage customer-dimension ETL.

This is the whole of reference ``dmCustomerProc.py`` (SQL-1…SQL-16,
``dmCustomerProc.py:17-232``) re-expressed Spark-first over the staging
schema of FIXTURES.md §B. Where the reference runs 16 eagerly
materialized pandas stages in one thread, here the wide build is ONE
lazy DataFrame plan (Catalyst fuses the stages and broadcasts the
lookup dims) and exactly one thing materializes before the sinks: the
deduped staged rows, computed once and read by both the dimension
upsert and the SCD2 history (see :func:`run_customer_pipeline`).

Intended-semantics deviations from the reference (each documented at
its stage, per SURVEY §7.5):
- F3 (``dmCustomerProc.py:92``): ``str(Series)`` bug → implemented as
  the intended ``src_alt_val != trgt_alt_val``.
- J13 (``dmCustomerProc.py:145``): merge on nonexistent column ``1``
  (KeyError, dead code) → implemented as the intended broadcast cross
  join of per-topic defaults + COALESCE.
- SQL-8 keep-first dedup (``dmCustomerProc.py:101``) keeps ONE topic
  row per customer and loses the rest; implemented as the intended
  all-topics one-hot + per-customer MAX collapse.
- J9 (``dmCustomerProc.py:69``): non-deduped loyalty join can fan out;
  implemented as the intended EXISTS flag (dedup-before-join).

Determinism: the ETL timestamp is injected (``now``), never wall-clock
(the reference stamps ``datetime.now()`` 5×, ``dmCustomerProc.py:15,
192,200,226`` — unreproducible by design).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flags import coalesce_default, one_hot_flags, range_flag
from ..operators.aggregates import group_count
from ..operators.joins import cross_join_defaults, existence_flag_join, lookup_join
from ..operators.scd2 import SCD2_COLS, scd2_apply
from ..operators.setops import union_by_name
from ..operators.upsert import upsert
from ..operators.windows import keep_first_dedup, top1_per_group

#: Notification-topic → flag-column encoding (reference SQL-8/SQL-9).
#: Both topic IDs and ALL nine flag names are the reference's, spelled
#: out in its multi-column init (``dmCustomerProc.py:102-103``) and
#: assigned per topic at ``dmCustomerProc.py:104-112`` (defaults
#: likewise at ``:122-139``): 10000→is_marketing, 30000→is_referral_t,
#: 70000→is_cc_expire, 110000/110001/110002→is_usage_75/90/100,
#: 50000→is_transaction_confirmation, 90000→is_roaming_zone_change,
#: 40000→is_fair_data.
TOPIC_FLAGS = {
    10000: "is_marketing",
    30000: "is_referral_t",
    40000: "is_fair_data",
    50000: "is_transaction_confirmation",
    70000: "is_cc_expire",
    90000: "is_roaming_zone_change",
    110000: "is_usage_75",
    110001: "is_usage_90",
    110002: "is_usage_100",
}


def build_wide_customer(t: Mapping[str, DataFrame]) -> DataFrame:
    """Stages SQL-1…SQL-10: the wide-customer enrichment (reference E1,
    ``dmCustomerProc.py:17-183``).

    ``t`` maps staging-table name → DataFrame (FIXTURES.md §B names).
    Returns one lazy plan; the 10 reference stages are plan nodes.

    Scale shape: one base shuffle join (cust × party on ``party_id``),
    all lookups broadcast, all existence flags distinct+broadcast, the
    two top-1 windows shuffle on their partition keys only. The wide
    row never re-shuffles after the base join — counts/flags join on
    ``cust_id`` which AQE broadcasts (they are per-key aggregates,
    far smaller than the wide side).
    """
    # SQL-1 — cust ⟕ party + three broadcast lookups (J1-J4,
    # dmCustomerProc.py:17-45). Renames disambiguate key collisions
    # (P2, :23-28) — Spark makes the aliasing explicit.
    cust = t["stg_dce_cust"].withColumnRenamed("st_id", "st_id_cust")
    party = t["stg_dce_party"].withColumnsRenamed(
        {"st_id": "st_id_party", "cdate": "cdate_party", "udate": "udate_party"}
    )
    wide = cust.join(party, "party_id", "left")
    wide = lookup_join(
        wide,
        t["stg_dce_gnl_st"],
        on=wide.st_id_cust == F.col("gnl_st_id"),
        broadcast=True,  # status dim: a handful of codes
        rename={"name": "st"},
        drop=["gnl_st_id"],
    )
    wide = lookup_join(
        wide,
        t["stg_dce_cust_tp"],
        on="cust_tp_id",
        broadcast=True,  # customer-type dim: a handful of codes
        rename={"name": "cust_tp"},
    )
    wide = lookup_join(
        wide,
        t["stg_dce_gnl_tp"],
        on=wide.party_tp_id == F.col("gnl_tp_id"),
        broadcast=True,  # party-type dim: a handful of codes
        rename={"name": "party_tp"},
        drop=["gnl_tp_id"],
    )

    # SQL-2 — account counts (A1 + J5, dmCustomerProc.py:50-53):
    # pre-aggregate, then join — the aggregate side is per-key small.
    acct_counts = group_count(t["stg_dce_cust_acct"], "cust_id", "cust_acct_count")
    wide = wide.join(acct_counts, "cust_id", "left")

    # SQL-3 — credit-card counts via the card×acct bridge
    # (J6/J7 + A2, dmCustomerProc.py:55-59).
    cards = t["stg_dce_credit_card_cust_acct"].join(
        t["stg_dce_cust_acct"], "cust_acct_id", "inner"
    )
    card_counts = group_count(cards, "cust_id", "credit_card_count")
    wide = wide.join(card_counts, "cust_id", "left")

    # SQL-4 — latest address per customer (W1 + J8,
    # dmCustomerProc.py:61-71): dense-rank desc, keep rank 1.
    addr = top1_per_group(
        t["stg_dce_addr"], "row_id", [F.desc("addr_id")], method="dense_rank"
    ).select("row_id", "city_name", "cntry_name")
    wide = wide.join(addr, wide.cust_id == addr.row_id, "left").drop("row_id")

    # J9 — loyalty membership EXISTS flag (dmCustomerProc.py:63-71;
    # fan-out hazard fixed by dedup-before-join).
    wide = existence_flag_join(
        wide, t["stg_dce_lylty_prg_memb"], "cust_id", "cust_id", "is_prg_memb"
    )

    # SQL-5 — latest acquisition (W2 + J10, dmCustomerProc.py:73-80).
    acq = top1_per_group(
        t["stg_dce_cust_acq"], "cust_id", [F.desc("cust_acq_id")], method="dense_rank"
    ).select("cust_id", "web_acq_source", "web_acq_medium", "web_acq_campaign")
    wide = wide.join(acq, "cust_id", "left")

    # SQL-6 — gift-sender flag (F2 + D1 + J11, dmCustomerProc.py:82-88).
    gifts = t["dwf_gift_detail"].filter(F.col("trgt_cust_id") != " ")
    wide = existence_flag_join(wide, gifts, "cust_id", "src_cust_id", "is_gift")

    # SQL-7 — referral-sender flag (F3 + D1 + J12,
    # dmCustomerProc.py:90-96). Intended predicate: the reference's
    # str(Series) second conjunct is vacuously true (bug, SURVEY §2.3).
    referrals = t["stg_dce_refer_invit_hstr"].filter(
        (F.col("st_id") == 10751) & (F.col("src_alt_val") != F.col("trgt_alt_val"))
    )
    wide = existence_flag_join(wide, referrals, "cust_id", "src_cust_id", "is_referral")

    # SQL-8 — per-topic notification flags (F4 + P6 + P7,
    # dmCustomerProc.py:98-116), all topics kept (the reference's
    # keep-first dedup at :101 drops every topic but one — intended
    # semantics is per-topic).
    prefs = t["stg_dce_cust_cmmnc_pref"].filter(F.col("is_actv") == 1)
    flagged = one_hot_flags(prefs, "ntf_topic_id", TOPIC_FLAGS, value_col="is_slct")
    cust_flags = flagged.groupBy("cust_id").agg(
        *[F.max(name).alias(name) for name in TOPIC_FLAGS.values()]
    )
    wide = wide.join(cust_flags, "cust_id", "left")

    # SQL-9 — system defaults for customers without a preference row
    # (J13 + P8 + A3, dmCustomerProc.py:118-166): per-topic default =
    # MAX(is_slct), pivoted to one row, broadcast-crossed, coalesced.
    # The reference's live fallback (:166) skips defaults entirely
    # because its defaults join is dead code (KeyError at :145).
    sys_prefs = t["stg_dce_syst_cmmnc_pref"].filter(F.col("is_actv") == 1)
    defaults = sys_prefs.agg(
        *[
            F.max(F.when(F.col("ntf_topic_id") == topic, F.col("is_slct"))).alias(
                f"__dflt_{name}"
            )
            for topic, name in TOPIC_FLAGS.items()
        ]
    )
    wide = cross_join_defaults(wide, defaults)
    wide = wide.withColumns(
        {
            name: coalesce_default(name, f"__dflt_{name}")
            for name in TOPIC_FLAGS.values()
        }
    ).drop(*[f"__dflt_{name}" for name in TOPIC_FLAGS.values()])

    # SQL-10 — language prefs + invalid-email flag (J15-J18 + P5,
    # dmCustomerProc.py:168-183). Same lang dim joined twice under two
    # aliases; the reference's prty_id_x/_y suffix collision (:187)
    # becomes explicit renames.
    lang = t["stg_dce_lang"]
    user = t["stg_dce_apl_user"].withColumnsRenamed(
        {"party_id": "prty_id", "st_id": "st_id_user"}
    )
    user = lookup_join(
        user,
        lang,
        on=user.pref_lang_id == F.col("lang_id"),
        how="left",
        broadcast=True,  # language dim: tens of rows
        rename={"name": "pref_lang"},
        drop=["lang_id"],
    )
    user = lookup_join(
        user,
        lang,
        on=user.ntf_pref_lang_id == F.col("lang_id"),
        how="left",
        broadcast=True,  # language dim: tens of rows
        rename={"name": "ntf_pref_lang"},
        drop=["lang_id"],
    )
    user = user.select(
        "prty_id",
        "pref_lang",
        "ntf_pref_lang",
        range_flag("st_id_user", 174, 178).alias("invalid_email"),
    )
    wide = wide.join(user, wide.party_id == user.prty_id, "left").drop("prty_id")
    return wide


def run_customer_pipeline(
    t: Mapping[str, DataFrame],
    *,
    dwd_customer: DataFrame,
    dwd_hstr_customer: DataFrame,
    dwd_pre_customer: DataFrame | None = None,
    now: Column,
) -> dict[str, DataFrame]:
    """The full job: E1 wide build + E2 dimension upsert + E3 SCD2.

    Returns ``{"wide": …, "dim": …, "history": …}``. ``wide`` is the
    lazy wide-customer plan; ``dim`` and ``history`` are lazy plans over
    ONE staged materialization: staged = pre-customer rows ∪ fresh wide
    rows, deduped to one survivor per ``cust_id`` (latest
    ``coalesce(udate_party, cdate_party)`` first, NULLs last, the
    business columns as a deterministic tiebreak) and pinned with
    ``localCheckpoint(eager=False)``. Under AQE, pinning it already runs
    the staged plan's shuffle stages; its last stage runs with the
    first sink. Both sinks then read one small ``Scan ExistingRDD`` leaf
    instead of analysing, optimising, code-generating and running the
    16-table wide subtree once per copy (two in the upsert, three in
    the SCD2).
    The one dedup also makes both sinks pick the SAME survivor for a
    ``cust_id`` staged twice.

    The trade is the one ``operators.graph`` documents for its
    checkpoints: lineage is truncated at the staged rows, so an
    executor loss during the run fails it instead of recomputing the
    lost blocks, and the blocks are released when the returned frames
    are dropped.

    E2 (SQL-11…13, ``dmCustomerProc.py:185-203``): dimension = keyed
    upsert of the staged rows (UPDATE-from via join-COALESCE +
    INSERT-if-absent via anti join — two joins against the small staged
    side, where one full outer join would shuffle the whole dimension),
    stamped with the injected ETL timestamp.

    E3 (SQL-14…16, ``dmCustomerProc.py:205-232``): SCD2 maintenance —
    change detection against current history (null-safe), close-out at
    ``udate_party``, reopen at ``coalesce(udate_party, cdate_party)``
    (the reference's null-split/fix/recombine at :219-224 collapsed).
    """
    wide = build_wide_customer(t)
    staged = (
        union_by_name(dwd_pre_customer, wide) if dwd_pre_customer is not None else wide
    )
    staged = keep_first_dedup(
        staged,
        "cust_id",
        [F.coalesce("udate_party", "cdate_party").desc_nulls_last()]
        + [F.col(c).desc_nulls_last() for c in staged.columns if c != "cust_id"],
    ).localCheckpoint(eager=False)

    dim = upsert(
        dwd_customer,
        staged,
        "cust_id",
        stamp={"etl_date": now},
    )

    compare_cols = [
        c
        for c in staged.columns
        if c not in {"cust_id", "etl_date", "udate_party", "cdate_party", *SCD2_COLS}
        and c in dwd_hstr_customer.columns
    ]
    history = scd2_apply(
        dwd_hstr_customer,
        staged,
        "cust_id",
        change_ts_col="udate_party",
        create_ts_col="cdate_party",
        now=now,
        compare_cols=compare_cols,
    )
    return {"wide": wide, "dim": dim, "history": history}
