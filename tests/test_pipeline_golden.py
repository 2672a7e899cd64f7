"""End-to-end pipeline tests: Spark mapInPandas extraction vs committed
golden fixtures, plus the mirrored reference-behavior assertions
(SURVEY.md §5) — the lift of the reference's ordered per-page list
assertions (/root/reference/tests/test_parser.py:196-202)."""

import os

import pandas as pd
import pytest

from vision_parse_spark import ExtractConfig, extract, extract_pandas
from vision_parse_spark.synth import synth_transcripts_pdf, synth_transcripts_spark

N_GOLDEN_TURNS = 160


@pytest.fixture(scope="module")
def golden(golden_dir):
    out = {}
    for name in os.listdir(golden_dir):
        if name.endswith(".md"):
            conv_id, turn = name[:-3].rsplit("_", 1)
            with open(os.path.join(golden_dir, name)) as f:
                out[(conv_id, int(turn))] = f.read()
    assert len(out) == N_GOLDEN_TURNS
    return out


def test_spark_end_to_end_golden_equality(spark, golden):
    """Per-turn markdown equality under ORDER BY conv_id, turn_idx —
    the north_rule correctness invariant."""
    df = synth_transcripts_spark(spark, N_GOLDEN_TURNS, partitions=7)
    out = extract(df, ExtractConfig(image_mode="url"))
    rows = out.orderBy("conv_id", "turn_idx").collect()
    assert len(rows) == N_GOLDEN_TURNS  # every row kept (P1)
    for r in rows:
        assert golden[(r.conv_id, r.turn_idx)] == r.markdown, (
            f"markdown mismatch at ({r.conv_id}, {r.turn_idx})"
        )


def test_spark_matches_driver_side_generation(spark):
    """Distributed synth is bit-identical to driver-side synth."""
    sdf = synth_transcripts_spark(spark, 100, partitions=5).orderBy(
        "conv_id", "turn_idx"
    )
    pdf = synth_transcripts_pdf(100).sort_values(["conv_id", "turn_idx"])
    got = [(r.conv_id, r.turn_idx, r.text) for r in sdf.collect()]
    want = list(zip(pdf.conv_id, pdf.turn_idx, pdf.text))
    assert got == want


def test_salted_repartition_same_result(spark, golden):
    """Salted-repartition path (skew handling) produces identical
    output — partitioning must never change semantics."""
    df = synth_transcripts_spark(spark, N_GOLDEN_TURNS, partitions=3)
    out = extract(df, ExtractConfig(image_mode="url"), salt_partitions=11)
    rows = out.orderBy("conv_id", "turn_idx").collect()
    for r in rows:
        assert golden[(r.conv_id, r.turn_idx)] == r.markdown


def test_p1_empty_rows_kept(spark):
    """llm.py:333-334: text_detected == No -> "" output, row KEPT."""
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * 3,
            "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": ["   ", "real content here.", "\n\n"],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3),
        }
    )
    out = extract_pandas(pdf, ExtractConfig())
    assert len(out) == 3
    assert list(out.markdown) == ["", "real content here.", ""]
    assert list(out.status) == ["empty", "ok", "empty"]


def test_p2_fast_path_passthrough():
    """llm.py:336-346: high confidence, no tables/latex/images ->
    extracted_text returned verbatim (no formatting applied)."""
    text = "plain prose sentence one. plain prose sentence two."
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [text]})
    out = extract_pandas(pdf, ExtractConfig())
    assert out.markdown.iloc[0] == text
    assert out.analysis.iloc[0]["confidence"] > 0.6


def test_p2_fast_path_blocked_by_tables():
    text = "name      count\nfoo      1\nbar      2"
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [text]})
    out = extract_pandas(pdf, ExtractConfig())
    assert out.analysis.iloc[0]["tables_detected"]
    assert "| --- |" in out.markdown.iloc[0]  # formatter ran


def test_detailed_extraction_false_disables_fast_path():
    """llm.py:370-377: detailed_extraction=False forces the generic
    formatting path (reference renders the fallback prompt)."""
    text = "Short Title\n\nplain prose body sentence."
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": [text]})
    fast = extract_pandas(pdf, ExtractConfig(detailed_extraction=True))
    slow = extract_pandas(pdf, ExtractConfig(detailed_extraction=False))
    assert fast.markdown.iloc[0] == text  # passthrough
    assert slow.markdown.iloc[0].startswith("# Short Title")  # formatted


def test_image_links_url_vs_base64_mode():
    """llm.py:383-393 link styles; utils.py:112 naming."""
    text = "body.\n\n[[PAGE_IMAGE w=140 h=130 seed=3]]"
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [4], "text": [text]})
    url = extract_pandas(pdf, ExtractConfig(image_mode="url"))
    b64 = extract_pandas(pdf, ExtractConfig(image_mode="base64"))
    none = extract_pandas(pdf, ExtractConfig(image_mode=None))
    assert "\n\n![image_5_1.png](image_5_1.png)" in url.markdown.iloc[0]
    assert "![image_5_1.png](data:image/png;base64," in b64.markdown.iloc[0]
    assert "![" not in none.markdown.iloc[0]
    assert none.images.iloc[0] == []  # P3 gate: image_mode None


def test_custom_transform_hook():
    """U6: the lift of custom_prompt (parser.py:55) — a user hook on
    the markdown Series."""
    pdf = pd.DataFrame({"conv_id": ["c"], "turn_idx": [0], "text": ["hello world."]})
    cfg = ExtractConfig(custom_transform=lambda s: s.str.upper())
    out = extract_pandas(pdf, cfg)
    assert out.markdown.iloc[0] == "HELLO WORLD."


def test_output_schema_stable(spark):
    df = synth_transcripts_spark(spark, 16, partitions=2)
    out = extract(df, ExtractConfig())
    names = [f.name for f in out.schema.fields]
    assert names == [
        "conv_id", "turn_idx", "role", "tool", "ts", "payload_kind",
        "analysis", "markdown", "images", "status", "error",
    ]


def test_textless_image_pdf_default_is_reference_faithful(spark):
    """A PDF whose ONLY content is an embedded image: the reference
    returns "" without image extraction for textless pages
    (llm.py:333-334) — default config mirrors that."""
    import numpy as np

    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.functions.pdf import make_pdf_bytes

    grad = np.linspace(60, 200, 160).astype(np.uint8)
    block = np.repeat(np.broadcast_to(grad, (120, 160))[:, :, None],
                      3, axis=2)
    payload = make_pdf_bytes([[]], images={0: block}).decode("latin-1")
    df = spark.createDataFrame([("c", 0, payload)],
                               ["conv_id", "turn_idx", "text"])
    r = extract(df, ExtractConfig(image_mode="url")).collect()[0]
    assert r.status == "empty" and r.markdown == "" and r.images == []


def test_textless_images_opt_in_harvests_figures(spark):
    """cfg.textless_images=True opts scan/image-only payloads into
    image extraction: the figure is harvested, links append, and the
    row reports 'ok' (there IS content)."""
    import numpy as np

    from vision_parse_spark import ExtractConfig, extract
    from vision_parse_spark.functions.pdf import make_pdf_bytes

    grad = np.linspace(60, 200, 160).astype(np.uint8)
    block = np.repeat(np.broadcast_to(grad, (120, 160))[:, :, None],
                      3, axis=2)
    payload = make_pdf_bytes([[]], images={0: block}).decode("latin-1")
    df = spark.createDataFrame([("c", 0, payload)],
                               ["conv_id", "turn_idx", "text"])
    r = extract(df, ExtractConfig(image_mode="url",
                                  textless_images=True)).collect()[0]
    assert r.status == "ok"
    assert [d["image_url"] for d in r.images] == ["image_1_1.png"]
    assert "![image_1_1.png](image_1_1.png)" in r.markdown


def test_vector_figures_config_off_switch(spark):
    """ExtractConfig(vector_figures=False) skips the raster-fallback
    channel: a vector-only PDF payload yields no images entry, while
    the default True yields one."""
    from vision_parse_spark.functions.pdf import make_pdf_bytes

    payload = make_pdf_bytes([["figure page"]], vector_figures=[0]) \
        .decode("latin-1")
    df = spark.createDataFrame(
        [("c", 0, "assistant", payload, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    on = extract(df, ExtractConfig(image_mode="url")).first()
    off = extract(df, ExtractConfig(image_mode="url",
                                    vector_figures=False)).first()
    assert len(on["images"]) == 1
    assert len(off["images"]) == 0


def test_include_annotations_config_knob(spark):
    """ExtractConfig.include_annotations (default True, like the
    reference's parser.py:25): a filled form-field value appears in
    the extracted markdown; False drops it and the stamp figure."""
    import pandas as pd

    from vision_parse_spark import ExtractConfig, extract
    from writers import make_pdf_bytes_annots

    payload = make_pdf_bytes_annots(
        ["Application form:"], field_value="Jane Q. Applicant",
        vector_stamp=True).decode("latin-1")
    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["c0"], "turn_idx": [0],
                      "role": ["user"], "text": [payload],
                      "tool": [None], "ts": [None]}))
    on = extract(df, ExtractConfig(image_mode="url")).first()
    assert "Jane Q. Applicant" in on.markdown
    assert len(on.images) > 0          # stamp figure region extracted
    off = extract(df, ExtractConfig(image_mode="url",
                                    include_annotations=False)).first()
    assert "Jane Q. Applicant" not in off.markdown
    assert len(off.images) == 0
