"""The benchmark's own checks: the generator's precondition guard and the
output verifiers, on tiny instances (NumPy only, no Spark).

    python3 -m pytest perfbench/test_verify.py -q
"""
import dataclasses
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
from dask_relabeling_spark.kernels.annotate import (  # noqa: E402
    labels_to_annotations_3d)
from verify import check_features, check_labels, truth_boxes
from workloads import (PreconditionError, Truth, Workload, _truth_from_ids,
                       check_precondition, generate)

TINY = Workload(name="tiny", pipeline="labels", grid=(2, 2),
                chunk=(24, 24), overlap=6, obj_min=2, obj_max=5, fill=0.6,
                threshold=0.05)
TINY3D = dataclasses.replace(TINY, pipeline="geojson", grid=(2, 2, 2),
                             chunk=(12, 12, 12), threshold=0.5)


def correct_labels(truth: Truth) -> np.ndarray:
    """What a correct pipeline writes: one arbitrary global id per
    object (the program's ids are large per-chunk offsets)."""
    out = truth.ids.astype(np.int64) * 7919
    out[out != 0] += 2 ** 31
    return out


def features_of(boxes, nd):
    """GeoJSON features whose ring spans each (z0, z1,) y0, y1, x0, x1
    box, as the annotate kernel renders them."""
    feats = []
    for box in boxes:
        y0, y1, x0, x1 = box[-4:]
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        f = {"geometry": {"coordinates": [ring], "type": "Polygon"},
             "properties": {"objectType": "cell"}, "type": "Feature"}
        if nd == 3:
            f["properties"]["zRange"] = list(box[:2])
        feats.append(f)
    return feats


def test_generator_is_seeded_and_meets_the_precondition():
    a, b = generate(TINY, 3), generate(TINY, 3)
    assert np.array_equal(a.ids, b.ids) and a.n > 5
    assert not np.array_equal(a.ids, generate(TINY, 4).ids)
    assert np.array_equal(a.image, (a.ids != 0).astype(np.int64))
    assert a.sizes.sum() == np.count_nonzero(a.ids)


def test_precondition_rejects_wide_touching_and_corner_objects():
    ids = np.zeros((48, 48), dtype=np.int32)
    ids[2:9, 2:4] = 1                       # 7 rows >= overlap 6
    with pytest.raises(PreconditionError, match="not smaller"):
        check_precondition(_truth_from_ids(ids), 6, (24, 24))
    ids[:] = 0
    ids[2:4, 2:4] = 1
    ids[4:6, 4:6] = 2                       # diagonal contact, no moat
    with pytest.raises(PreconditionError, match="moat"):
        check_precondition(_truth_from_ids(ids), 6, (24, 24))
    ids[:] = 0
    ids[22:26, 22:26] = 1                   # crosses both tile boundaries
    with pytest.raises(PreconditionError, match="corner"):
        check_precondition(_truth_from_ids(ids), 6, (24, 24))


def test_labels_verifier_accepts_correct_output():
    truth = generate(TINY, 1)
    assert check_labels(correct_labels(truth), truth) == []


def test_labels_verifier_catches_a_split_object():
    truth = generate(TINY, 1)
    out = correct_labels(truth)
    ys, xs = np.nonzero(truth.ids == 1)
    out[ys[0], xs[0]] = 12345               # one pixel gets its own id
    errs = check_labels(out, truth)
    assert any("distinct labels" in e for e in errs)
    assert any("split or merged" in e for e in errs)


def test_labels_verifier_catches_a_dropped_object():
    truth = generate(TINY, 1)
    out = correct_labels(truth)
    out[truth.ids == 2] = 0
    errs = check_labels(out, truth)
    assert any("lost their label" in e for e in errs)
    assert any(f"expected {truth.n}" in e for e in errs)


def test_labels_verifier_catches_a_merge_and_a_stray_label():
    truth = generate(TINY, 1)
    out = correct_labels(truth)
    out[truth.ids == 2] = out[truth.ids == 1][0]
    assert check_labels(out, truth)
    out = correct_labels(truth)
    out[truth.ids == 0] = 1
    assert any("background" in e for e in check_labels(out, truth))


def test_geojson_verifier_accepts_correct_output():
    truth = generate(TINY3D, 1)
    assert check_features(features_of(truth_boxes(truth), 3), truth) == []


def test_geojson_verifier_reads_boxes_the_way_the_kernel_writes_them():
    truth = generate(TINY3D, 1)
    ann = labels_to_annotations_3d(truth.ids.astype(np.int64), {0: "cell"})
    assert check_features(ann["features"], truth) == []


def test_geojson_verifier_catches_a_split_object():
    truth = generate(TINY3D, 1)
    boxes = truth_boxes(truth)
    z0, z1, y0, y1, x0, x1 = boxes[0]
    boxes[0:1] = [(z0, z1, y0, y1, x0, x0), (z0, z1, y0, y1, x0 + 1, x1)]
    errs = check_features(features_of(boxes, 3), truth)
    assert any("features, expected" in e for e in errs)
    assert any("without a matching feature" in e for e in errs)


def test_geojson_verifier_catches_a_dropped_object_and_a_wrong_zrange():
    truth = generate(TINY3D, 1)
    boxes = truth_boxes(truth)
    errs = check_features(features_of(boxes[1:], 3), truth)
    assert any("features, expected" in e for e in errs)
    z0, z1, *rest = boxes[0]
    boxes[0] = (z0, z1 + 1, *rest)
    errs = check_features(features_of(boxes, 3), truth)
    assert any("matching no object" in e for e in errs)
