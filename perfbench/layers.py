"""Per-layer metrics of the traced run.

Two sources, both recorded as spans by perfbench.trace:

* traced calls: `run_extract_frames` as in the timed loop, with the
  ExtractTable methods and `release_persisted` it calls wrapped in spans
  for the duration of the call, and Spark jobs counted per call;
* layer-alone measurements: Spark is lazy, so a layer's time is taken by
  forcing that layer's public function alone to the `noop` sink, on the
  same inputs the calls extract, with its own input materialised first.
  The model and imaging layers are timed in this process on a fixed
  payload sample.

Each layer-alone measurement is repeated REPEATS times; metrics are medians.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import zlib
from contextlib import ExitStack

import numpy as np
import pyarrow.parquet as pq

REPEATS = 3
SAMPLE = 128       # payloads timed in-process
JPEG_EVERY = 4     # every n-th payload of the image folder is stored as JPEG
TABLE_METHODS = ("committed_doc_ids", "append_extracted", "commit", "append_lineage", "read_snapshot")


def traced_call(bench, name: str) -> float | None:
    """One checked call with spans around the layer functions it calls."""

    from vietnamese_ocr_spark.plans import extract as extract_mod
    from vietnamese_ocr_spark.sources.tableio import ExtractTable

    tr, sc = bench.tracer, bench.spark.sparkContext
    with ExitStack() as stack:
        for m in TABLE_METHODS:
            stack.enter_context(tr.wrap(ExtractTable, m, f"tableio.{m}", name))
        stack.enter_context(tr.wrap(extract_mod, "release_persisted", "caching.release_persisted", name))
        sc.setJobGroup(name, name)
        try:
            seconds = bench.checked_call(name, traced=True)
        finally:
            sc.setJobGroup(None, None)
    if seconds is None:
        return None
    attrs = tr.spans[tr.named("extract.run_extract_frames")[-1]]["attrs"]
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(name)
    attrs["jobs"] = len(jobs)
    attrs["stages"] = sum(len(st.getJobInfo(j).stageIds) for j in jobs if st.getJobInfo(j))
    head = _manifest_head(os.path.join(bench.work, name))
    attrs["data_files"] = len(head.get("data_files", []))
    attrs["media_recognized"] = head.get("media_recognized_this_run", 0)
    return seconds


def _manifest_head(root: str) -> dict:
    with open(os.path.join(root, "manifest.json")) as f:
        return json.load(f)["snapshots"][-1]


def _median_self(tr, name: str) -> float:
    return statistics.median(tr.self_time(i) for i in tr.named(name))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialise(df):
    df = df.cache()
    df.count()
    return df


class LayerInputs:
    """What the calls extract, read once without Spark: the documents
    (the delta on `incremental`), their spans and referenced payloads."""

    def __init__(self, bench):
        inp = bench.inputs
        self.doc_dirs = [inp.set_dir(bench.call_sets[-1])]
        docs = pq.read_table(self.doc_dirs[0]).to_pylist()
        self.doc_ids = [d["doc_id"] for d in docs]
        spans = [s for d in docs for s in d["spans"]]
        self.texts = [s["text"] for s in spans if s["kind"] == "text"]
        self.media_spans = sum(s["kind"] == "media" for s in spans)
        refs = {s["media_ref"] for s in spans if s["kind"] == "media"}
        media = pq.read_table(inp.media)
        keep = [i for i, r in enumerate(media["media_ref"].to_pylist()) if r in refs]
        self.payloads = media.take(keep).sort_by("media_ref")


def _model_sample(li: LayerInputs):
    """Decodable PNG payloads of the fixed sample and their JPEG copies."""
    from vietnamese_ocr_spark.functions.imaging import decode_image
    from vietnamese_ocr_spark.functions.jpeg import jpeg_encode

    n = li.payloads.num_rows
    pngs, grays = [], []
    for png in li.payloads.take(list(range(0, n, max(1, n // SAMPLE))))["png"].to_pylist():
        try:
            grays.append(decode_image(png))
        except (ValueError, zlib.error):  # the corrupt payload
            continue
        pngs.append(png)
        if len(pngs) == SAMPLE:
            break
    return pngs, grays, [jpeg_encode(g, quality=90) for g in grays]


def _image_folder(bench, li: LayerInputs) -> str:
    """The extracted payloads as one image file each (cached with the
    inputs); every JPEG_EVERY-th is re-encoded as JPEG."""
    from vietnamese_ocr_spark.functions.imaging import decode_image
    from vietnamese_ocr_spark.functions.jpeg import jpeg_encode

    folder = os.path.join(bench.inputs.dir, f"folder-{bench.call_sets[-1]}")
    if os.path.isdir(folder):
        return folder
    tmp = folder + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, (ref, png) in enumerate(zip(li.payloads["media_ref"].to_pylist(), li.payloads["png"].to_pylist())):
        data, ext = png, "png"
        if i % JPEG_EVERY == 0:
            try:
                data, ext = jpeg_encode(decode_image(png), quality=90), "jpg"
            except (ValueError, zlib.error):  # the corrupt payload stays as it is
                pass
        with open(os.path.join(tmp, f"{ref}.{ext}"), "wb") as f:
            f.write(data)
    os.replace(tmp, folder)
    return folder


def measure_spark_layers(bench, li: LayerInputs, rep: int) -> None:
    from pyspark.sql import functions as F

    from vietnamese_ocr_spark.caching import release_persisted
    from vietnamese_ocr_spark.functions.text import normalize_text
    from vietnamese_ocr_spark.plans.extract import (
        extract_df, lineage_df, recognize_media_df, run_extract_frames, stitch,
    )
    from vietnamese_ocr_spark.sources.image_folder import read_image_folder
    from vietnamese_ocr_spark.sources.tableio import ExtractTable

    spark, bc, tr = bench.spark, bench.bc, bench.tracer
    call = f"layers-{rep}"
    media = spark.read.parquet(bench.inputs.media)
    bench.between_calls()
    with tr.span("extract.extract_df", call):
        extracted, _ = extract_df(spark, spark.read.parquet(*li.doc_dirs), media, bc)
        _noop(extracted)
    release_persisted()

    rows = [(d, k, t, m, o) for d in li.doc_ids for (k, t, m, o) in bench.expected[d]]
    rows += [(d, None, None, None, None) for d in li.doc_ids if not bench.expected[d]]
    spans = _materialise(spark.createDataFrame(
        rows, "doc_id string, kind string, text string, media_ref string, offset int"))
    with tr.span("extract.stitch", call):
        _noop(stitch(spans))

    texts = _materialise(spark.createDataFrame([(t,) for t in li.texts], "text string"))
    with tr.span("text.normalize_text", call):
        _noop(texts.select(normalize_text(F.col("text"))))

    payloads = _materialise(spark.createDataFrame(li.payloads.to_pandas()))
    with tr.span("ocr_stage.recognize_media_df", call):
        _noop(recognize_media_df(payloads, bc))
    rec = _materialise(recognize_media_df(payloads, bc))
    with tr.span("extract.lineage_df", call):
        _noop(lineage_df(rec, "bench", 1))
    if rep == 0:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        per_part = dict(rec.groupBy("part_id").count().collect())
        counts = [per_part.get(p, 0) for p in range(n)]
        bench.layer_counts["partition_rows_max_over_median"] = max(counts) / max(statistics.median(counts), 1)
        bench.layer_counts["decode_fail_frac"] = rec.filter(~F.col("decode_ok")).count() / rec.count()

    committed = ExtractTable(os.path.join(bench.work, bench.last_call))
    with tr.span("tableio.committed_doc_ids", call):
        _noop(committed.committed_doc_ids(spark))
    with tr.span("tableio.read_snapshot", call):
        _noop(committed.read_snapshot(spark))
    frame = _materialise(committed.read_snapshot(spark))
    scratch = ExtractTable(os.path.join(bench.work, f"scratch-{rep}"))
    with tr.span("tableio.append_extracted", call):
        scratch.append_extracted(frame)

    folder = _image_folder(bench, li)
    with tr.span("image_folder.read_image_folder", call):
        _noop(read_image_folder(spark, folder))

    # a re-run over the same inputs resumes to a no-op; on a copy, so the
    # table read above stays as the call committed it
    from perfbench.check import compare, read_head

    noop_root = os.path.join(bench.work, f"noop-{rep}")
    shutil.copytree(committed.root, noop_root)
    before = read_head(noop_root)
    bench.between_calls()
    with tr.span("tableio.resume_noop", call) as a:
        docs = spark.read.parquet(*(bench.inputs.set_dir(s) for s in bench.call_sets))
        run_extract_frames(spark, docs, media, noop_root, weights_bc=bc)
    head = read_head(noop_root)
    a["files_added"] = len(head.new_files)
    a["rows_added"] = head.new_rows
    a["ok"] = (head.snapshot_id == before.snapshot_id + 1 and head.new_rows == 0
               and compare(bench.expected, head.rows).bad == 0)
    bench.between_calls()


def measure_model_layers(bench, sample, rep: int) -> None:
    """Per-image and per-line costs of the OCR pipeline, in this process."""
    from vietnamese_ocr_spark.functions.imaging import decode_image, preprocess
    from vietnamese_ocr_spark.functions.jpeg import jpeg_decode
    from vietnamese_ocr_spark.model.detector import detect_line_bands, tighten_band
    from vietnamese_ocr_spark.model.pipeline import MODEL_BATCH, recognize_png_batch
    from vietnamese_ocr_spark.model.recognizer import Recognizer, weights_from_bytes

    pngs, grays, jpegs = sample
    tr, call = bench.tracer, f"model-{rep}"
    rec = Recognizer(weights_from_bytes(bench.bc.value))
    with tr.span("pipeline.recognize_png_batch", call):
        recognize_png_batch(pngs, rec)
    with tr.span("imaging.decode_image", call):
        for png in pngs:
            decode_image(png)
    with tr.span("jpeg.jpeg_decode", call):
        for j in jpegs:
            jpeg_decode(j)
    with tr.span("detector.detect_line_bands", call):
        bands = [(g, tighten_band(g, y0, y1)) for g in grays for y0, y1 in detect_line_bands(g)]
    with tr.span("imaging.preprocess", call):
        canvases = [preprocess(g[y0:y1]) for g, (y0, y1) in bands]
    tokens = 0
    with tr.span("recognizer.recognize", call):
        for lo in range(0, len(canvases), MODEL_BATCH):
            _, hist = rec.recognize(np.stack(canvases[lo:lo + MODEL_BATCH]))
            tokens += int(hist.sum())
    bench.layer_counts["lines"] = len(bands)
    bench.layer_counts["tokens"] = tokens


def measure_layers(bench) -> None:
    """Run the layer-alone measurements REPEATS times."""
    tr = bench.tracer
    li = LayerInputs(bench)
    sample = _model_sample(li)
    c = bench.layer_counts
    c["sample_imgs"], c["payloads"], c["media_spans"] = len(sample[0]), li.payloads.num_rows, li.media_spans
    for rep in range(REPEATS):
        with tr.span("layers", f"layers-{rep}"):
            measure_spark_layers(bench, li, rep)
        with tr.span("model", f"model-{rep}"):
            measure_model_layers(bench, sample, rep)


def layer_metrics(bench, plain: list[float], traced: list[float]) -> dict:
    """Every per-layer metric, from the spans of the traced run."""
    tr = bench.tracer

    calls = [tr.spans[i] for i in tr.named("extract.run_extract_frames")]
    per_call: dict[str, list[float]] = {}
    for name in ("tableio.commit", "tableio.append_lineage", "caching.release_persisted"):
        sums: dict[str, float] = {}
        for i in tr.named(name):
            s = tr.spans[i]
            v = s["attrs"].get("returned", 0) if name.startswith("caching") else s["end"] - s["start"]
            sums[s["call"]] = sums.get(s["call"], 0.0) + v
        per_call[name] = [sums.get(c["call"], 0.0) for c in calls]
    noops = [tr.spans[i]["attrs"] for i in tr.named("tableio.resume_noop")]
    if not all(a["ok"] for a in noops):
        bench.failed += 1
    c = bench.layer_counts
    n_img, n_pay = c["sample_imgs"], c["payloads"]
    ocr_s = _median_self(tr, "ocr_stage.recognize_media_df")
    med = statistics.median
    plain_s, traced_s = med(plain), med(traced)
    values = {
        "extract.compute_s": (_median_self(tr, "extract.extract_df"), "s"),
        "extract.stitch_s": (_median_self(tr, "extract.stitch"), "s"),
        "extract.lineage_s": (_median_self(tr, "extract.lineage_df"), "s"),
        "extract.spark_jobs_per_call": (med(s["attrs"]["jobs"] for s in calls), "count"),
        "extract.spark_stages_per_call": (med(s["attrs"]["stages"] for s in calls), "count"),
        "extract.payloads_per_media_span": (
            med(s["attrs"]["media_recognized"] for s in calls) / max(c["media_spans"], 1), "ratio"),
        "ocr_stage.wall_s": (ocr_s, "s"),
        "ocr_stage.imgs_per_s": (n_pay / ocr_s, "1/s"),
        "ocr_stage.partition_rows_max_over_median": (c["partition_rows_max_over_median"], "ratio"),
        "ocr_stage.decode_fail_frac": (c["decode_fail_frac"], "frac"),
        "ocr_stage.call_share": (ocr_s / plain_s, "frac"),
        "pipeline.us_per_img": (_median_self(tr, "pipeline.recognize_png_batch") / n_img * 1e6, "us"),
        "detector.us_per_img": (_median_self(tr, "detector.detect_line_bands") / n_img * 1e6, "us"),
        "detector.lines_per_img": (c["lines"] / n_img, "count"),
        "recognizer.us_per_line": (_median_self(tr, "recognizer.recognize") / c["lines"] * 1e6, "us"),
        "recognizer.tokens_per_line": (c["tokens"] / c["lines"], "count"),
        "imaging.decode_us_per_img": (_median_self(tr, "imaging.decode_image") / n_img * 1e6, "us"),
        "imaging.preprocess_us_per_line": (_median_self(tr, "imaging.preprocess") / c["lines"] * 1e6, "us"),
        "jpeg.decode_us_per_img": (_median_self(tr, "jpeg.jpeg_decode") / n_img * 1e6, "us"),
        "text.normalize_s": (_median_self(tr, "text.normalize_text"), "s"),
        "tableio.committed_doc_ids_s": (_median_self(tr, "tableio.committed_doc_ids"), "s"),
        "tableio.append_extracted_s": (_median_self(tr, "tableio.append_extracted"), "s"),
        "tableio.commit_s": (med(per_call["tableio.commit"]), "s"),
        "tableio.append_lineage_s": (med(per_call["tableio.append_lineage"]), "s"),
        "tableio.read_snapshot_s": (_median_self(tr, "tableio.read_snapshot"), "s"),
        "tableio.data_files_per_call": (med(s["attrs"]["data_files"] for s in calls), "count"),
        "tableio.resume_noop_s": (_median_self(tr, "tableio.resume_noop"), "s"),
        "tableio.noop_files_added": (med(a["files_added"] for a in noops), "count"),
        "image_folder.scan_s": (_median_self(tr, "image_folder.read_image_folder"), "s"),
        "caching.released_per_call": (med(per_call["caching.release_persisted"]), "count"),
        "setup.session_s": (_median_self(tr, "setup.session"), "s"),
        "setup.broadcast_s": (_median_self(tr, "setup.broadcast"), "s"),
        "setup.warmup_s": (_median_self(tr, "setup.warmup"), "s"),
        "trace.overhead_frac": (traced_s / plain_s - 1.0, "frac"),
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}
