"""Physical-plan quality gates: pushdown, pruning, broadcast, no extra
shuffles.  These lock in the plans we want at 100 TB, not just plans that
happen to pass on 60k rows."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def n_exchanges(plan: str) -> int:
    """Count Exchange *nodes* (the formatted dump names each node twice:
    once in the tree, once in the details section)."""
    import re as _re

    return len(_re.findall(r"\n\(\d+\) Exchange", plan))


def test_extract_scan_prunes_columns(spark, tmp_path):
    """The UDF stage must read only (url, warc_ts, html, lang) — never the
    full pages schema (text would double the scan)."""
    from htmlcleanup_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 20, num_partitions=1).write.parquet(src)
    pages = spark.read.parquet(src)
    pruned = pages.select("url", "warc_ts", "html", "lang")
    plan = plan_of(pruned)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_lang_filter_pushed_down(spark, tmp_path):
    from htmlcleanup_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 20, num_partitions=1).write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("lang") == "en")
    plan = plan_of(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "lang" in pushed[0]


def test_revenue_by_nation_broadcasts_dims(spark):
    import __spark_entry__ as e

    plan = plan_of(e.q_tpch_q1(spark, SF))
    # one shuffle for the groupBy, partial aggregation before it
    assert n_exchanges(plan) <= 2
    plan2 = plan_of(e.q_revenue_by_nation(spark, SF))
    assert "BroadcastHashJoin" in plan2  # nation (25 rows) must broadcast


def test_dedup_window_single_shuffle(spark, tmp_path):
    from htmlcleanup_spark.plans.extract import dedup_latest_by_url
    from htmlcleanup_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 20, num_partitions=1).write.parquet(src)
    plan = plan_of(dedup_latest_by_url(spark.read.parquet(src)))
    # exactly one hash exchange on url for the window
    assert n_exchanges(plan) == 1


def test_shingles_explode_carries_no_shuffle(spark):
    """Per-doc distinct is array_distinct (map-side); a .distinct() on the
    exploded table would shuffle the largest intermediate of the pipeline."""
    from htmlcleanup_spark.operators.dedup import shingles

    docs = spark.read.parquet(SF + "/documents.parquet")
    assert n_exchanges(plan_of(shingles(docs))) == 0


def test_minhash_zero_shuffle(spark):
    """minhash_wide is a pure projection (array_min inside the row): no
    exchange at all, and no SortAggregate — min over a string column has
    an immutable buffer, so the old explode+groupBy plan sorted the whole
    shingle table twice (the r6 optimization-round fix)."""
    from htmlcleanup_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(minhash_signatures(docs))
    assert n_exchanges(plan) == 0
    assert "SortAggregate" not in plan
    # the shingle array is built once, not once per hash family
    assert plan.count("array_distinct") == 1


def test_cascade_stage_has_no_postshuffle(spark, tmp_path):
    """After the round-robin repartition, the cascade map + write must
    pipeline — no further exchange."""
    from htmlcleanup_spark.functions.udf import clean_pages
    from htmlcleanup_spark.plans.extract import partition_for_cascade
    from htmlcleanup_spark.sources.pages import synth_pages

    src = str(tmp_path / "pages")
    synth_pages(spark, 20, num_partitions=1).write.parquet(src)
    df = clean_pages(partition_for_cascade(spark.read.parquet(src), 4))
    plan = plan_of(df)
    assert n_exchanges(plan) == 1  # only the explicit repartition
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan


def test_resume_antijoin_not_forced_broadcast(spark, tmp_path):
    """The done-set grows with the output table (unbounded at 10^12 docs):
    the anti-join must NOT carry a broadcast hint — AQE sizes it.  Either
    join strategy is acceptable in the plan; what's asserted is the absence
    of a forced broadcast hint on the done side."""
    from htmlcleanup_spark.plans.extract import _read_done, run_extract
    from htmlcleanup_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    pages = synth_pages(spark, 10, num_partitions=1)
    run_extract(spark, pages, output_path=out, num_partitions=2)
    done = _read_done(spark, out)
    joined = pages.select("url", "warc_ts", "html", "lang").join(
        done, "url", "left_anti"
    )
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftAnti" in plan
    # no ResolvedHint/UnresolvedHint survives into the optimized plan when
    # none was given; a forced broadcast would show as a hint node upstream
    logical = joined._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower()


def test_read_done_none_only_without_committed_output(spark, tmp_path):
    """No committed output (no path, or a data/ holding only an
    uncommitted _temporary) is a fresh start; nothing else is."""
    from htmlcleanup_spark.plans.extract import _read_done

    assert _read_done(spark, str(tmp_path / "absent")) is None
    (tmp_path / "partial" / "data" / "_temporary" / "0").mkdir(parents=True)
    assert _read_done(spark, str(tmp_path / "partial")) is None


def test_resume_over_corrupt_output_raises_and_appends_nothing(spark,
                                                               tmp_path):
    """A done set that cannot be read must stop the run: treating it as a
    fresh output would re-clean every url and append a second copy."""
    from py4j.protocol import Py4JJavaError

    from htmlcleanup_spark.plans.extract import run_extract
    from htmlcleanup_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    pages = synth_pages(spark, 6, num_partitions=1)
    run_extract(spark, pages, output_path=out, num_partitions=2)
    data = tmp_path / "out" / "data"
    parts = sorted(data.glob("part-*.parquet"))
    saved = {}
    for part in parts:
        raw = part.read_bytes()
        saved[part] = raw
        # footer length and magic overwritten: unreadable, not missing
        # (the checksum sidecar goes, so the footer is what fails)
        part.write_bytes(raw[:-8] + b"\xff" * 8)
        (data / (".%s.crc" % part.name)).unlink()
    with pytest.raises(Py4JJavaError):
        run_extract(spark, pages, output_path=out, num_partitions=2)
    assert sorted(data.glob("part-*.parquet")) == parts
    for part, raw in saved.items():
        part.write_bytes(raw)
    assert spark.read.parquet(str(data)).count() == 6


def test_containment_plan_no_cartesian(spark):
    """The containment self-join must stay an equi-join on fp (hot keys
    capped): no CartesianProduct node, bounded exchanges downstream of the
    pinned fingerprint table."""
    from htmlcleanup_spark.operators.dedup import containment_pairs

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(containment_pairs(docs))
    assert "CartesianProduct" not in plan
    assert n_exchanges(plan) <= 4, plan


def test_upsert_by_url_contract(spark):
    """The MERGE semantics proven offline: matched -> update, not-matched
    -> insert, never two rows per url (what merge_sql does on Iceberg)."""
    from htmlcleanup_spark.plans.extract import upsert_by_url

    existing = spark.createDataFrame(
        [("a", "v1"), ("b", "v1")], "url string, text string"
    )
    updates = spark.createDataFrame(
        [("a", "v2"), ("c", "v2")], "url string, text string"
    )
    got = {r.url: r.text for r in upsert_by_url(existing, updates).collect()}
    assert got == {"a": "v2", "b": "v1", "c": "v2"}


def test_merge_sink_rerun_upserts_no_duplicates(spark, tmp_path):
    """Re-running the extract with the merge sink over changed content must
    leave exactly one row per url, carrying the NEWEST attempt's output —
    the Iceberg-MERGE behavior the parquet-append fallback only
    approximates."""
    from htmlcleanup_spark.engine import clean_html
    from htmlcleanup_spark.plans.extract import read_extracted, run_extract
    from htmlcleanup_spark.sources.pages import make_html, synth_pages

    out = str(tmp_path / "out")
    run_extract(spark, synth_pages(spark, 10, num_partitions=1),
                output_path=out, num_partitions=2, sink="merge")
    # second crawl: same urls, different content (seed change); resume off
    # so every url is re-attempted
    run_extract(spark, synth_pages(spark, 10, seed=99, num_partitions=1),
                output_path=out, num_partitions=2, resume=False,
                sink="merge")
    got = read_extracted(spark, out)
    assert got.count() == 10
    assert got.select("url").distinct().count() == 10
    row = got.filter("url = 'https://host3.example/p/3'").first()
    assert row.text == clean_html(make_html(3, 99)).text  # newest wins
    # resume against the merged output: everything is done
    m = run_extract(spark, synth_pages(spark, 10, seed=99, num_partitions=1),
                    output_path=out, num_partitions=2, sink="merge")
    assert m["docs_out"] == 0


def test_merge_sink_ignores_uncommitted_snapshot(spark, tmp_path):
    """Crash-safety: a snapshot directory without _SUCCESS (a run that died
    mid-write) is invisible to readers and resume — the previous committed
    snapshot stays current, and the next merge overwrites the orphan."""
    import os
    import shutil

    from htmlcleanup_spark.plans.extract import (
        _current_snapshot,
        read_extracted,
        run_extract,
    )
    from htmlcleanup_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    run_extract(spark, synth_pages(spark, 6, num_partitions=1),
                output_path=out, num_partitions=2, sink="merge")
    committed = _current_snapshot(spark, out)
    assert committed.endswith("snap-000000")
    # simulate a crashed writer: snap-000001 exists but never committed
    orphan = os.path.join(out, "snap-000001")
    shutil.copytree(committed, orphan)
    os.remove(os.path.join(orphan, "_SUCCESS"))
    assert _current_snapshot(spark, out) == committed
    assert read_extracted(spark, out).count() == 6
    # the next successful merge claims the orphan's slot and commits it
    run_extract(spark, synth_pages(spark, 6, num_partitions=1),
                output_path=out, num_partitions=2, resume=False,
                sink="merge")
    assert _current_snapshot(spark, out).endswith("snap-000001")
    assert read_extracted(spark, out).count() == 6


def test_expire_snapshots_keeps_current_and_inflight(spark, tmp_path):
    """After 3 merges, expire keep_last=1 must delete the two oldest
    committed snapshots, keep the current one readable and correct, and
    never touch an in-flight (_SUCCESS-less) dir."""
    import os
    import shutil

    from htmlcleanup_spark.plans.extract import (
        _current_snapshot,
        expire_snapshots,
        read_extracted,
        run_extract,
    )
    from htmlcleanup_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    for seed in (1, 2, 3):
        run_extract(spark, synth_pages(spark, 6, seed=seed,
                                       num_partitions=1),
                    output_path=out, num_partitions=2, resume=False,
                    sink="merge")
    cur = _current_snapshot(spark, out)
    assert cur.endswith("snap-000002")
    # simulate an in-flight writer above the current snapshot
    orphan = os.path.join(out, "snap-000003")
    shutil.copytree(cur, orphan)
    os.remove(os.path.join(orphan, "_SUCCESS"))

    deleted = expire_snapshots(spark, out, keep_last=1)
    assert deleted == ["snap-000000", "snap-000001"]
    names = sorted(n for n in os.listdir(out) if n.startswith("snap-"))
    assert names == ["snap-000002", "snap-000003"]  # in-flight untouched
    assert _current_snapshot(spark, out) == cur
    got = read_extracted(spark, out)
    assert got.count() == 6 and got.select("url").distinct().count() == 6
    # keep_last < 1 clamps: the current snapshot is never deletable
    assert expire_snapshots(spark, out, keep_last=0) == []
    assert _current_snapshot(spark, out) == cur


def test_append_sink_attempt_ts_distinguishes_retries(spark, tmp_path):
    """The append fallback stamps attempt_ts: two attempts for one url are
    distinguishable and read_latest_attempts picks the newest."""
    from htmlcleanup_spark.engine import clean_html
    from htmlcleanup_spark.plans.extract import (
        read_latest_attempts,
        run_extract,
    )
    from htmlcleanup_spark.sources.pages import make_html, synth_pages

    out = str(tmp_path / "out")
    run_extract(spark, synth_pages(spark, 6, num_partitions=1),
                output_path=out, num_partitions=2)
    run_extract(spark, synth_pages(spark, 6, seed=99, num_partitions=1),
                output_path=out, num_partitions=2, resume=False)
    raw = spark.read.parquet(out + "/data")
    assert raw.count() == 12  # both attempts present
    assert raw.select("attempt_ts").distinct().count() == 2
    latest = read_latest_attempts(spark, out)
    assert latest.count() == 6
    row = latest.filter("url = 'https://host2.example/p/2'").first()
    assert row.text == clean_html(make_html(2, 99)).text


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located url-keyed join: two tables bucketed by url with the same
    bucket count must join with ZERO Exchange nodes (the 10^12-row resume
    anti-join plan).  Broadcast is disabled so the test can't pass via a
    broadcast plan."""
    from htmlcleanup_spark.sources.pages import synth_pages, write_bucketed

    pages = synth_pages(spark, 50, num_partitions=2)
    write_bucketed(pages, "t_pages_b", str(tmp_path / "pages_b"), buckets=4)
    write_bucketed(
        pages.select("url"), "t_done_b", str(tmp_path / "done_b"), buckets=4
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_pages_b").join(
            spark.table("t_done_b"), "url", "left_anti"
        )
        plan = plan_of(joined)
        assert n_exchanges(plan) == 0, plan
        assert joined.count() == 0  # every url is 'done'
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_pages_b")
        spark.sql("DROP TABLE IF EXISTS t_done_b")


def test_decontaminate_train_side_never_shuffles(spark):
    """The scale contract of decontaminate: the train-side shingle stream
    is probed by BROADCAST joins only — every Exchange in the plan must be
    either a broadcast or keyed by the tiny matched-id/eval side, never a
    repartition of the train shingles by shingle key."""
    from htmlcleanup_spark.operators.dedup import decontaminate

    train = spark.range(0, 200).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', 'w', cast(id as string), 'a b c d e f g h i j') "
        "AS text",
    )
    ev = train.filter("doc_id % 50 = 0")
    plan = plan_of(decontaminate(train, ev, k=8))
    assert "BroadcastHashJoin" in plan, plan
    # no sort-merge join anywhere: the big side must never sort/shuffle
    # by shingle key
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_filter_pushdown(spark, tmp_path):
    """The sample predicate is a pure filter over scan columns: the plan
    must contain no Exchange and no Python/UDF node at all."""
    from htmlcleanup_spark.operators.sample import stratified_sample

    p = str(tmp_path / "docs")
    spark.range(0, 100).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    ).write.parquet(p)
    df = stratified_sample(
        spark.read.parquet(p), {"en": 0.5, "de": 0.1}
    )
    plan = plan_of(df)
    assert n_exchanges(plan) == 0, plan
    assert "Python" not in plan and "BatchEvalPython" not in plan, plan


def test_line_dedup_boiler_join_broadcasts(spark):
    """line_dedup's removal joins must broadcast the (tiny) boilerplate
    set — a sort-merge join there would shuffle the exploded line stream
    by line hash, the thing the design forbids."""
    from htmlcleanup_spark.operators.dedup import line_dedup

    df = spark.range(0, 100).selectExpr(
        "id AS doc_id",
        "concat('common header', chr(10), 'body ', cast(id AS string)) "
        "AS text",
    )
    plan = plan_of(line_dedup(df, id_col="doc_id", text_col="text"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_sessionize_single_shuffle_and_values(spark):
    """Both window functions share one partitioning+sort: exactly one
    Exchange.  Values: gap > timeout opens a new 0-based session."""
    import datetime as dt

    from htmlcleanup_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 1, base),
        (1, 2, base + dt.timedelta(minutes=10)),   # same session
        (1, 3, base + dt.timedelta(minutes=50)),   # 40-min gap -> new
        (1, 4, base + dt.timedelta(minutes=79)),   # 29-min gap -> same
        (2, 5, base),                              # other user restarts at 0
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    out = sessionize(df)
    assert n_exchanges(plan_of(out)) == 1, plan_of(out)
    got = {r.event_id: r.session_seq for r in out.collect()}
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0}


def test_session_rollup_agrees_with_sessionize(spark):
    """The native session_window aggregate and the lag/running-sum
    sessionize must induce identical session partitions (incl. the
    exact-gap boundary: a diff of EXACTLY the gap merges in both)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from htmlcleanup_spark.operators.sessions import (
        session_rollup,
        sessionize,
    )

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u, offs in [
        (1, [0, 1800, 3600, 9000]),      # exact-gap chain then a break
        (2, [0, 1801]),                  # just over the gap: two sessions
        (3, [0]),                        # singleton
    ]:
        for o in offs:
            rows.append((eid, u, base + dt.timedelta(seconds=o), 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id int, ts timestamp, value double"
    )
    roll = session_rollup(ev).collect()
    ses = (
        sessionize(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("st"),
        )
        .collect()
    )
    got = sorted((r["user_id"], r["session_start"], r["n_events"])
                 for r in roll)
    want = sorted((r["user_id"], r["st"], r["n_events"]) for r in ses)
    assert got == want
    assert (1, "2024-01-01 00:00:00", 3) in got  # exact-gap events merged
    assert sum(1 for g in got if g[0] == 2) == 2
    # value-less frames roll up counts only instead of raising (the
    # round-3 advisory: F.sum("value") was hardcoded)
    no_val = session_rollup(ev.drop("value"))
    assert "sum_value" not in no_val.columns
    got2 = sorted((r["user_id"], r["session_start"], r["n_events"])
                  for r in no_val.collect())
    assert got2 == got
    # and an alternate measure column works
    alt = session_rollup(ev.withColumnRenamed("value", "amt"),
                         value_col="amt")
    assert "sum_value" in alt.columns


def test_robots_flags_zero_shuffle(spark):
    """Robots/canonical extraction is a pure scan-local projection —
    any Exchange would mean the regex scan got separated from the read."""
    from htmlcleanup_spark.functions.robots import with_robots_flags

    df = spark.range(0, 50).selectExpr(
        "id AS doc_id",
        "'<html><head><meta name=\"robots\" content=\"noindex\">"
        "</head></html>' AS html",
    )
    plan = plan_of(with_robots_flags(df))
    assert n_exchanges(plan) == 0, plan


def test_bloom_probe_word_join_broadcasts(spark):
    """The probe's word-table join must broadcast (the sketch is tiny by
    design) and never degrade to a nested-loop join."""
    from htmlcleanup_spark.operators.bloom import bloom_build, bloom_probe

    hist = spark.range(0, 200).selectExpr(
        "md5(cast(id AS string)) AS digest"
    )
    new = spark.range(500, 600).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS digest"
    )
    plan = plan_of(bloom_probe(
        new, bloom_build(hist, m_bits=1 << 16), m_bits=1 << 16
    ))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dsir_ratio_table_broadcasts(spark):
    """The (bucket, lr_e6) table is <= B rows — the per-doc scoring join
    must broadcast it, never shuffle the exploded gram stream by
    bucket."""
    from htmlcleanup_spark.operators.dsir import dsir_weights

    raw = spark.range(0, 80).selectExpr(
        "id AS doc_id", "concat('w', cast(id % 7 AS string), ' x y') AS text"
    )
    tgt = spark.range(0, 20).selectExpr(
        "id AS doc_id", "'x y z w1' AS text"
    )
    plan = plan_of(dsir_weights(raw, tgt, n_buckets=512))
    assert "BroadcastHashJoin" in plan, plan
    # the only nested-loop joins allowed are the 1-row scalar-total
    # attaches (crossJoin(broadcast(agg)) — the line_dedup idiom); the
    # bucket joins themselves must never shuffle or loop
    assert "SortMergeJoin" not in plan, plan
    import re as _re
    assert all("Cross" in l for l in plan.split("\n")
               if "BroadcastNestedLoopJoin" in l and _re.match(r"\s", l)), plan


def test_host_line_dedup_no_nested_loop(spark):
    """All host-dedup joins are equi-joins on (host, line_key) or host —
    a BroadcastNestedLoopJoin anywhere means a join condition degraded."""
    from htmlcleanup_spark.operators.dedup import host_line_dedup

    df = spark.range(0, 60).selectExpr(
        "concat('http://h', cast(id % 3 AS string), '.com/p/', "
        "cast(id AS string)) AS url",
        "concat('NAV', chr(10), 'body ', cast(id AS string)) AS text",
    )
    plan = plan_of(host_line_dedup(df))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_repetition_signals_zero_shuffle(spark):
    """r6 optimization contract: the Gopher repetition family is a
    per-document Arrow batch kernel — no Exchange, no SortAggregate, no
    row-at-a-time Python (the former plan exploded an (n, pos, gram)
    stream and paid a doc-keyed exchange + SortAggregate + two pivots)."""
    from htmlcleanup_spark.functions.text import repetition_signals

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(repetition_signals(docs))
    assert n_exchanges(plan) == 0
    assert "SortAggregate" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_host_quality_has_no_join(spark):
    """The per-document quality map carries the host column, so the host
    rollup aggregates the verdicts in place: no join back on doc_id."""
    from htmlcleanup_spark.functions.text import host_quality

    docs = spark.read.parquet(SF + "/documents.parquet").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 50).cast("string")))
    plan = plan_of(host_quality(docs))
    assert "Join" not in plan, plan
    assert n_exchanges(plan) == 1, plan  # the host groupBy only


def test_v3_repetition_gate_filters_in_place(spark, monkeypatch):
    """training_corpus_v3's repetition gate is a Filter straight over the
    per-document map (which carries the text), with no join back onto the
    template-stripped phase."""
    import re as _re

    import __spark_entry__ as entry

    pinned = []
    real_pin = entry._phase_pin

    def recording_pin(df):
        pinned.append(df)
        return real_pin(df)

    monkeypatch.setattr(entry, "_phase_pin", recording_pin)
    entry.q_training_corpus_v3(spark, SF)
    gate = pinned[1]._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in gate, gate
    assert _re.search(r"Filter[^\n]*keep[^\n]*\n[ :]*\+- MapInArrow",
                      gate), gate


def test_v4_badwords_gate_filters_in_place(spark, monkeypatch):
    """training_corpus_v4's bad-words gate filters the host-gated pages in
    place: the frame handed to _phase_pin joins on host only, with no join
    back on doc_id."""
    import re as _re

    import __spark_entry__ as entry

    pinned = []
    real_pin = entry._phase_pin

    def recording_pin(df):
        pinned.append(df)
        return real_pin(df)

    monkeypatch.setattr(entry, "_phase_pin", recording_pin)
    entry.q_training_corpus_v4(spark, SF)
    gate = pinned[0]._jdf.queryExecution().executedPlan().toString()
    assert _re.findall(r"Join \[(\w+)#", gate) == ["host"], gate
    assert _re.search(r"Filter[^\n]*size\(filter\(split", gate), gate


def test_ngram_stream_is_codegen(spark):
    """r6 optimization contract: the LM n-gram streams are HOF-free so
    whole-stage codegen covers the stream AND the model joins pipelined
    behind it (a transform() lambda is CodegenFallback and splits the
    stage out of codegen)."""
    from htmlcleanup_spark.operators.lm import _ngram_stream

    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(_ngram_stream(docs, 3, "text", "doc_id"))
    assert "lambdafunction" not in plan, plan
    # the '*' prefix marks operators inside a WholeStageCodegen span in
    # formatted explain — the Generate and its projections must carry it
    assert "* Generate" in plan, plan


def test_phase_pin_keeps_parallelism(spark):
    """r6 optimization contract: a recipe phase boundary must not pin
    downstream parallelism at AQE's coalesced partition count (1 at toy
    scale) — _phase_pin repartitions to defaultParallelism inside the
    checkpointed plan."""
    import __spark_entry__ as entry

    tiny = spark.range(0, 100).groupBy((F.col("id") % 7).alias("k")).count()
    pinned = entry._phase_pin(tiny)
    assert (
        pinned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def executed_nodes(df) -> list:
    """The nodes of ``df``'s executed physical plan, looking through AQE's
    final plan and its query stages; run an action on ``df`` first."""
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            nodes.append(node)
            kids = node.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_default_cascade_runs_two_tasks_per_core(spark):
    """Every Python task pays a fixed set-up cost, so by default the
    cascade is fed by one round-robin exchange of 2 x defaultParallelism
    partitions: no big/small union, no second cascade."""
    from htmlcleanup_spark.plans.extract import plan_extract
    from htmlcleanup_spark.sources.pages import synth_pages

    df = plan_extract(spark, synth_pages(spark, 40, num_partitions=2))
    df.collect()
    nodes = executed_nodes(df)
    names = [n.nodeName() for n in nodes]
    assert names.count("MapInArrow") == 1, names
    assert "Union" not in names
    cascade = nodes[names.index("MapInArrow")]
    want = 2 * spark.sparkContext.defaultParallelism
    assert cascade.outputPartitioning().numPartitions() == want
    feed = cascade.children().apply(0)
    assert feed.nodeName() in ("Exchange", "ShuffleQueryStage"), feed.nodeName()


def test_merge_sink_plan_runs_cascade_once(spark, tmp_path):
    """The merge sink's plan (current snapshot upserted with the cascade's
    output) reads the cascade once: one MapInArrow node, not one for the
    anti-join keys and another for the union."""
    from htmlcleanup_spark.plans.extract import (
        _current_snapshot,
        plan_extract,
        run_extract,
        upsert_by_url,
    )
    from htmlcleanup_spark.sources.pages import synth_pages

    out = str(tmp_path / "out")
    run_extract(spark, synth_pages(spark, 6, num_partitions=1),
                output_path=out, num_partitions=2, sink="merge")
    updates = plan_extract(spark, synth_pages(spark, 8, seed=99,
                                              num_partitions=1),
                           output_path=out, num_partitions=2)
    merged = upsert_by_url(
        spark.read.parquet(_current_snapshot(spark, out)), updates)
    import re as _re

    assert len(_re.findall(r"\n\(\d+\) MapInArrow", plan_of(merged))) == 1
