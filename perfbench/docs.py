"""Seeded raw detection documents for the ``ingest`` workload.

One generator per domain of FIXTURES.md (vehicle, people, safety, pose,
animal, parking, geolocation, common, school, retail). Each returns the
JSON document the producing service would upload plus what the
generator knows it emitted:

* ``silver``: rows the silver zone must hold (detections after the
  documented filters: ``explode`` drops empty frames, people keeps them,
  pose/geolocation drop confidence <= 0.1, animal drops null rows);
* ``gold``: rows the gold zone must hold (one per tracked object);
* ``lookup``: a ``(column, value)`` gold key that exists, with the
  ``(column, value)`` the matching gold row must carry.

The documents carry the quirks the cleaning kernels exist for: null
fields that take the domain's defaults, ``+05:30`` / `` UTC`` timestamp
suffixes, invalid tracker ids (``-1`` / null) that gold filters, and the
``frame`` alias for ``frame_number``. ``MALFORMED`` is a
truncated document that lands in ``_corrupt_record``.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

DOMAINS = (
    "vehicle", "people", "safety", "pose", "animal",
    "parking", "geolocation", "common", "school", "retail",
)

_T0 = 1_714_564_800  # 2024-05-01 12:00:00 UTC
_SUFFIXES = ("", "", "+05:30", " UTC")


@dataclass
class Doc:
    body: object
    silver: int
    gold: int
    lookup: tuple[str, object]
    expect: tuple[str, object]


def _ts(rng: random.Random, sec: int) -> str:
    base = time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(_T0 + sec))
    return base + rng.choice(_SUFFIXES)


def _maybe(rng: random.Random, value, p_null: float = 0.08):
    return None if rng.random() < p_null else value


def _bbox(cx: float, cy: float, half: float = 2.0) -> list[float]:
    return [cx - half, cy - half, cx + half, cy + half]


def _tracks(rng: random.Random, n_frames: int, per_track: int = 25) -> list[tuple[int, int, int]]:
    """(id, first_frame, last_frame_exclusive) segments covering the
    video; every track is visible in at least one frame."""
    k = max(2, n_frames // per_track)
    out = []
    for tid in range(1, k + 1):
        start = rng.randrange(n_frames)
        out.append((tid, start, min(n_frames, start + rng.randint(3, 40))))
    return out


def _active(tracks, frame: int) -> list[int]:
    return [t for t, s, e in tracks if s <= frame < e]


def _counts(tracks) -> dict[int, int]:
    return {t: e - s for t, s, e in tracks}


def vehicle(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    frames, silver = [], 0
    for f in range(n):
        dets = []
        for tid in _active(tracks, f):
            dets.append({
                "tracker_id": tid,
                "confidence": _maybe(rng, round(rng.uniform(0.3, 1.0), 3)),
                "bbox": _bbox(rng.uniform(20, 600), rng.uniform(20, 400)),
                "class_id": 2,
                "vehicle_type": rng.choice(("car", "bus", "truck", "bike")),
                "vehicle_direction": _maybe(rng, rng.choice(("Up", "Down", "Unknown"))),
                "vehicle_lane": _maybe(rng, rng.choice(("Left Lane", "Middle Lane", "Right Lane"))),
                "vehicle_color": _maybe(rng, rng.choice(("red", "white", "black"))),
                "stopped": _maybe(rng, rng.random() < 0.2),
                "vehicle_speed": _maybe(rng, round(rng.uniform(0, 80), 2)),
                "red_light_violation": rng.random() < 0.05,
                "red_light_violation_time": None,
                "line_crossing": rng.random() < 0.1,
                "line_crossing_violation_time": None,
                "vehicle_entry_time": _ts(rng, f),
                "vehicle_exit_time": _maybe(rng, _ts(rng, f + 1), 0.7),
            })
        if rng.random() < 0.1:  # invalid tracker: silver keeps it, gold drops it
            dets.append({"tracker_id": rng.choice((-1, None)), "confidence": 0.4,
                         "bbox": _bbox(5, 5), "vehicle_type": "car",
                         "vehicle_entry_time": _ts(rng, f)})
        silver += len(dets)
        frames.append({"frame_number": f, "congestion_level": len(dets),
                       "traffic_light": rng.choice(("red", "green", "yellow", "unknown")),
                       "detections": dets})
    tid = rng.choice(tracks)[0]
    return Doc(frames, silver, len(tracks), ("tracker_id", tid),
               ("frame_count", _counts(tracks)[tid]))


def people(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    frames, silver = [], 0
    for f in range(n):
        dets = [{
            "tracker_id": tid, "class_id": 0, "class_name": "person",
            "confidence": _maybe(rng, round(rng.uniform(0.3, 1.0), 3)),
            "bbox": _bbox(rng.uniform(20, 600), rng.uniform(20, 400)),
            "in_area1": rng.random() < 0.3, "in_area2": rng.random() < 0.3,
            "in_restricted_area": rng.random() < 0.05,
            "gender": _maybe(rng, rng.choice(("male", "female", "Unknown"))),
            "age": _maybe(rng, rng.choice(("20-30", "30-40", "Unknown"))),
            "carrying": _maybe(rng, rng.choice(("bag", "none", "Unknown"))),
            "entry_time": _maybe(rng, _ts(rng, f), 0.5),
            "exit_time": None,
            "first_seen_frame": f, "last_seen_frame": f,
            "entered_restricted": False,
        } for tid in _active(tracks, f)]
        # frames with no detections survive silver as one null row
        silver += max(1, len(dets))
        frames.append({"frame_number": f, "timestamp": _ts(rng, f), "detections": dets})
    doc = {
        "video_metadata": {"filename": "cam.mp4", "duration_seconds": float(n),
                           "fps": 30.0, "width": 640, "height": 480},
        "processing_time": _ts(rng, 0),
        "summary": {"total_people": len(tracks), "total_entering": 0, "total_exiting": 0,
                    "restricted_area_entries": 0, "restricted_people_ids": [],
                    "fps": 30.0, "duration_seconds": float(n)},
        "frame_detections": frames,
    }
    tid = rng.choice(tracks)[0]
    return Doc(doc, silver, len(tracks), ("tracker_id", tid),
               ("frame_count", _counts(tracks)[tid]))


def safety(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    frames, silver = [], 0
    for f in range(n):
        ppl = []
        for tid in _active(tracks, f):
            gear = [_maybe(rng, rng.random() < 0.8, 0.15) for _ in range(3)]
            missing = [g for g, ok in zip(("hardhat", "mask", "safety_vest"), gear) if not ok]
            ppl.append({"hardhat": gear[0], "mask": gear[1], "safety_vest": gear[2],
                        "tracker_id": tid,
                        "safety_status": _maybe(rng, "Unsafe" if missing else "Safe"),
                        "missing_items": missing,
                        "bbox": _bbox(rng.uniform(20, 600), rng.uniform(20, 400))})
        silver += len(ppl)
        frames.append({"frame_number": f, "people": ppl})
    tid = rng.choice(tracks)[0]
    return Doc(frames, silver, len(tracks), ("tracker_id", tid),
               ("bbox_count", _counts(tracks)[tid]))


_ACTIONS = ("walk", "run", "sit", "stand", "wave", "jump")


def pose(rng: random.Random, n: int) -> Doc:
    kp = [{"landmark_id": float(i), "x": 0.1, "y": 0.2, "z": 0.0, "visibility": 0.9}
          for i in range(33)]
    frames, kept = [], {}
    for f in range(n):
        data = []
        for _ in range(rng.randint(0, 3)):
            action = rng.choice(_ACTIONS)
            conf = round(rng.uniform(0.0, 0.1), 3) if rng.random() < 0.1 else round(
                rng.uniform(0.2, 1.0), 3)
            if conf > 0.1:
                kept[action] = kept.get(action, 0) + 1
            data.append({"keypoints": kp, "action": action, "confidence": conf})
        key = "frame" if rng.random() < 0.3 else "frame_number"
        frames.append({key: f, "pose_data": data})
    if not kept:  # degenerate tiny draw: guarantee one kept detection
        frames[0]["pose_data"].append({"keypoints": kp, "action": "walk", "confidence": 0.9})
        kept["walk"] = 1
    action = rng.choice(sorted(kept))
    return Doc(frames, sum(kept.values()), len(kept), ("action", action),
               ("action", action))


_ANIMALS = ("dog", "cat", "deer", "bird")


def animal(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    # each tracked animal stays inside one 10px grid cell, so gold's
    # proximity key (class, cell) is one object per track
    cells = {}
    for tid, _, _ in tracks:
        cells[tid] = (_ANIMALS[tid % len(_ANIMALS)], tid, rng.randrange(50))
    frames, silver = [], 0
    for f in range(n):
        dets = []
        for tid in _active(tracks, f):
            cls, cx_cell, cy_cell = cells[tid]
            cx = cx_cell * 10 + rng.uniform(3, 7)
            cy = cy_cell * 10 + rng.uniform(3, 7)
            center = None if rng.random() < 0.1 else {"x": cx, "y": cy}
            dets.append({"class_id": 1, "class_name": cls,
                         "confidence": round(rng.uniform(0.3, 1.0), 3),
                         "bbox": _bbox(cx, cy), "center": center,
                         "area": rng.randint(50, 500), "frame_number": f,
                         "timestamp": f / 30.0})
        silver += len(dets)
        if rng.random() < 0.08:  # null row: dropped in silver
            dets.append({"class_id": None, "class_name": None, "confidence": None,
                         "bbox": None, "center": None, "area": None,
                         "frame_number": f, "timestamp": f / 30.0})
        frames.append({"frame_number": f, "timestamp": f / 30.0, "detections": dets})
    tid = rng.choice(tracks)[0]
    cls, cx_cell, cy_cell = cells[tid]
    return Doc(frames, silver, len(tracks),
               ("object_id", f"{cls}_{cx_cell}_{cy_cell}"),
               ("detection_count", _counts(tracks)[tid]))


def parking(rng: random.Random, n: int) -> Doc:
    n_slots = rng.randint(4, 12)
    occupied = {f"S{i}": rng.random() < 0.5 for i in range(n_slots)}
    frames = []
    for f in range(n):
        for s in occupied:
            if rng.random() < 0.05:
                occupied[s] = not occupied[s]
        frames.append({
            "frame_number": f, "timestamp_sec": float(f),
            "slots": {s: {"occupied": occ, "bbox": _bbox(10, 10), "pixel_count": 100}
                      for s, occ in occupied.items()},
            "free_slots": sum(not o for o in occupied.values()),
        })
    doc = {
        "processing_date": _ts(rng, 0), "video_source": "lot.mp4",
        "video_info": {"width": 640, "height": 480, "fps": 30.0, "total_frames": n},
        "parking_config": {"total_slots": n_slots,
                           "slot_coordinates": {"S0": [[0, 0], [1, 0], [1, 1], [0, 1]]},
                           "detection_method": "bbox"},
        "frame_detections": frames,
    }
    slot = f"S{rng.randrange(n_slots)}"
    return Doc(doc, n * n_slots, n_slots, ("slot_id", slot), ("sample_count", n))


_GEO_CLASSES = ("car", "bus", "truck", "bike", "van")


def geolocation(rng: random.Random, n: int) -> Doc:
    rows, kept = [], {}
    for f in range(n):
        for _ in range(rng.randint(1, 3)):
            cls = rng.choice(_GEO_CLASSES)
            conf = round(rng.uniform(0.0, 0.1), 3) if rng.random() < 0.1 else round(
                rng.uniform(0.2, 1.0), 3)
            if conf > 0.1:
                kept[cls] = kept.get(cls, 0) + 1
            rows.append({"frame": f, "class": cls, "confidence": conf,
                         "bbox": _bbox(50, 50),
                         "geolocation": {"latitude": 6.9 + rng.random() / 10,
                                         "longitude": 79.8 + rng.random() / 10}})
    cls = rng.choice(sorted(kept))
    return Doc(rows, sum(kept.values()), len(kept), ("class_name", cls),
               ("class_name", cls))


def common(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    # untracked objects (tracker_id -1) key on their fixed grid cell
    untracked = [(rng.choice(("chair", "table")), 100 + i, rng.randrange(40))
                 for i in range(max(1, len(tracks) // 4))]
    rows = []
    for f in range(n):
        for tid in _active(tracks, f):
            x, y = rng.randint(0, 600), rng.randint(0, 400)
            rows.append({"frame_number": f, "tracker_id": tid, "class_id": 0,
                         "class_name": "chair",
                         "confidence": _maybe(rng, round(rng.uniform(0.3, 1.0), 3)),
                         "bbox": [x, y, x + 4, y + 4]})
        if rng.random() < 0.3:
            cls, cx_cell, cy_cell = rng.choice(untracked)
            x, y = cx_cell * 10 + 3, cy_cell * 10 + 3
            rows.append({"frame_number": f, "tracker_id": -1, "class_id": 1,
                         "class_name": cls, "confidence": 0.7, "bbox": [x, y, x + 4, y + 4]})
    seen_untracked = {(r["class_name"], r["bbox"][0]) for r in rows if r["tracker_id"] == -1}
    tid = rng.choice(tracks)[0]
    return Doc(rows, len(rows), len(tracks) + len(seen_untracked),
               ("object_id", str(tid)), ("detection_count", _counts(tracks)[tid]))


def school(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n, per_track=40)
    frames, silver = [], 0
    for f in range(n):
        dets = [{
            "event_id": f"e{tid}", "event_type": _maybe(rng, rng.choice(("fight", "running", "fall"))),
            "timestamp": _ts(rng, f), "location": _maybe(rng, rng.choice(("yard", "hall"))),
            "confidence": round(rng.uniform(0.3, 1.0), 3),
            "involved_person_id": f"p{rng.randrange(20)}",
            "duration_seconds": round(rng.uniform(1, 30), 1), "notes": "",
            "alert_level": _maybe(rng, rng.choice(("low", "high"))),
            "response_required": rng.random() < 0.3,
            "multiple_persons_involved": rng.random() < 0.3,
            "person_roles": rng.sample(("aggressor", "victim", "runner", "witness"), 2),
        } for tid in _active(tracks, f)]
        silver += len(dets)
        frames.append({"frame_number": f, "timestamp": _ts(rng, f), "detections": dets})
    tid = rng.choice(tracks)[0]
    return Doc(frames, silver, len(tracks), ("event_id", f"e{tid}"),
               ("event_id", f"e{tid}"))


def retail(rng: random.Random, n: int) -> Doc:
    tracks = _tracks(rng, n)
    frames, silver = [], 0
    for f in range(n):
        dets = [{
            "product_id": f"p{tid}", "product_name": _maybe(rng, f"item{tid}"),
            "category": _maybe(rng, rng.choice(("dairy", "bakery", "produce"))),
            "location": "aisle1", "stock_level": _maybe(rng, rng.randint(0, 50)),
            "price": _maybe(rng, round(rng.uniform(0.5, 20), 2)),
            "picked_by_customer": rng.random() < 0.2,
            "expiry_date": _maybe(rng, f"2024-06-{rng.randint(1, 28):02d}", 0.3),
        } for tid in _active(tracks, f)]
        silver += len(dets)
        frames.append({"frame_number": f, "timestamp": _ts(rng, f), "detections": dets})
    tid = rng.choice(tracks)[0]
    return Doc(frames, silver, len(tracks), ("product_id", f"p{tid}"),
               ("product_id", f"p{tid}"))


GENERATORS = {d: globals()[d] for d in DOMAINS}


#: A truncated upload part: PERMISSIVE parsing quarantines it.
MALFORMED = '[{"frame_number": 1, "detections": [{"tracker_id": 3, "bbox": [1.0, 2'
