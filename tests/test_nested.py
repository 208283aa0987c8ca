"""S4 deep-iteration flag, klog's currentBatch cursor and the F6 cat renderer."""

from pyspark.sql import functions as F


def test_control_batches_have_control_message(parsed_df):
    """A valid control batch with one record line under klog's
    currentBatch cursor holds its control message."""
    from klog_spark.operators.aggregates import MSG_CLASSES, attach_parent_batch

    records = attach_parent_batch(
        parsed_df.filter(F.col("record_class").isin("batch", *MSG_CLASSES)),
        "doc_id", "is_control", "is_valid",
    ).filter(
        F.col("record_class").isin(*MSG_CLASSES) & F.col("parent.is_control")
        & F.col("parent.is_valid") & (F.col("segment_type") == "data")
    )
    single = records.groupBy("parent.doc_id").agg(
        F.count("*").alias("n"), F.min("record_class").alias("cls")
    ).filter(F.col("n") == 1)
    classes = {r["cls"] for r in single.collect()}
    assert classes == {"control_msg"}


def test_deep_iteration_flag(spark, parsed_df):
    from klog_spark.operators.aggregates import deep_iteration_files

    flags = deep_iteration_files(parsed_df)
    # fixture dumps segments with --deep-iteration -> every .log dump deep;
    # snapshot dumps have no record lines and are correctly flagged shallow
    log_files = flags.filter(F.col("file").contains(".log.dump"))
    snap_files = flags.filter(F.col("file").contains(".snapshot.dump"))
    assert log_files.filter(~F.col("deep_iteration")).count() == 0
    assert snap_files.filter(F.col("deep_iteration")).count() == 0
    assert log_files.count() > 0 and snap_files.count() > 0


def test_cat_render_styles_and_plain(parsed_df):
    """F6: ANSI styling present in color mode, absent in plain mode, with
    identical underlying text."""
    import re

    from pyspark.sql import functions as F

    from klog_spark.operators.render import render_cat_lines
    from klog_spark.operators.route import apply_validity_routing

    routed = apply_validity_routing(parsed_df)
    colored = {r["doc_id"]: r["display"] for r in render_cat_lines(routed, color=True).collect()}
    plain = {r["doc_id"]: r["display"] for r in render_cat_lines(routed, color=False).collect()}
    assert set(colored) == set(plain) and colored
    ansi = re.compile(r"\x1b\[[0-9;]*m")
    assert any(ansi.search(v) for v in colored.values())
    for k, v in plain.items():
        assert "\x1b" not in v
        assert ansi.sub("", colored[k]) == v
    ctl = [v for v in colored.values() if "ControlMessage" in v]
    assert any("\x1b[32;1mcommit\x1b[0m" in v for v in ctl)
    assert any("\x1b[31;1mabort\x1b[0m" in v for v in ctl)


def test_cat_render_location_prefixes(parsed_df):
    """--filename/--line-numbers prefixes (Cat.location())."""
    from klog_spark.operators.render import render_cat_lines
    from klog_spark.operators.route import apply_validity_routing

    routed = apply_validity_routing(parsed_df)
    r = render_cat_lines(routed, color=False, show_filename=True, show_line_numbers=True).first()
    assert r["display"].startswith(f"{r['file']}:{r['line_no']}: ")
