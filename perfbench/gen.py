"""Seeded workload inputs: an `images` parquet plus its planted truth.

The corpus has the shape of `dynaalign_spark.fixtures.make_images`: planted
near-duplicate clusters (perturbed pixels, edited or substring captions),
30% singletons, and a ppm / lossy-qrs format mix. Unlike the fixture, it
emits exactly `n_rows` rows for every seed, so a run's work depends on the
seed only through the random draws and not through the corpus size.

`hot_rows` > 0 adds the skew of `generate_images_skewed`: that many rows
share one caption. They form one truth cluster tagged `hot`, which the
quality score leaves out, because `size_max` forbids recovering it.

Rows are shuffled before ids are assigned, so cluster members land in
different input partitions, as they would in a real table.

The generator does not call the fixture's helpers: the inputs must stay
byte-identical between the two commits of a comparison, and the fixtures
change with the tests. Only the image codecs come from the program, since
they define the input format the job decodes.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dynaalign_spark.codec import encode_ppm, encode_qrs, phash64

SINGLETON_FRAC = 0.3
SUBSTRING_FRAC = 0.25
MAX_MEMBERS = 12
IMG_HW = (32, 32)
# rows per parquet row group: a scan splits at row groups, so one group
# per file would leave the scan-rooted stages on a single task
ROW_GROUP = 256
HOT_TAG = "hot"
CACHE_SIZE = 8


def _words(rng, vocab, lo=8, hi=14):
    return [vocab[int(i)] for i in rng.integers(0, len(vocab), int(rng.integers(lo, hi)))]


def _image(rng):
    h, w = IMG_HW
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    img = np.empty((h, w, 3))
    for c in range(3):
        f1, f2 = rng.uniform(0.5, 3, 2)
        p1, p2 = rng.uniform(0, 2 * np.pi, 2)
        amp = rng.uniform(40, 90)
        img[..., c] = (128 + amp * np.sin(2 * np.pi * f1 * xx / w + p1)
                       + amp * 0.7 * np.cos(2 * np.pi * f2 * yy / h + p2))
    img += rng.normal(0, 6, img.shape)
    return np.clip(img, 0, 255).astype(np.uint8)


def _perturb_image(rng, pix):
    out = pix.astype(np.float64) + rng.normal(0, 1.5, pix.shape)
    out += rng.integers(-3, 4)
    if rng.random() < 0.5:
        out = np.roll(out, 1, axis=int(rng.integers(0, 2)))
    return np.clip(out, 0, 255).astype(np.uint8)


def _perturb_caption(rng, words, vocab):
    w = list(words)
    for _ in range(int(rng.integers(1, 3))):
        op = rng.random()
        if op < 0.35 and len(w) > 3:
            del w[int(rng.integers(0, len(w)))]
        elif op < 0.7:
            w.insert(int(rng.integers(0, len(w) + 1)), vocab[int(rng.integers(0, len(vocab)))])
        elif len(w) >= 2:
            i, j = rng.integers(0, len(w), 2)
            w[i], w[j] = w[j], w[i]
    return w


def generate(n_rows: int, seed: int, hot_rows: int = 0):
    """-> (images, truth) pyarrow tables with exactly `n_rows` rows."""
    rng = np.random.Generator(np.random.PCG64(seed))
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(letters[rng.integers(0, 26, n)]) for n in rng.integers(3, 9, 4000)]
    items: list[tuple] = []  # (pix, caption, truth cluster)

    hot_pix = _image(rng)
    hot_caption = " ".join(_words(rng, vocab, 12, 13))
    for _ in range(hot_rows):
        items.append((_perturb_image(rng, hot_pix), hot_caption, HOT_TAG))

    n_clustered = int((n_rows - hot_rows) * (1 - SINGLETON_FRAC)) + hot_rows
    c = 0
    while len(items) < n_clustered:
        m = min(2 + min(int(rng.zipf(1.6)), MAX_MEMBERS - 2), n_clustered - len(items))
        base_pix, base_words = _image(rng), _words(rng, vocab)
        items.append((base_pix, " ".join(base_words), f"c{c}"))
        for _ in range(m - 1):
            if rng.random() < SUBSTRING_FRAC and len(base_words) > 5:
                a = int(rng.integers(0, 3))
                words = base_words[a: a + max(5, len(base_words) - 3)]
            else:
                words = _perturb_caption(rng, base_words, vocab)
            items.append((_perturb_image(rng, base_pix), " ".join(words), f"c{c}"))
        c += 1
    s = 0
    while len(items) < n_rows:
        items.append((_image(rng), " ".join(_words(rng, vocab)), f"s{s}"))
        s += 1

    cols = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
    clusters = []
    for rid, i in enumerate(rng.permutation(len(items))):
        pix, caption, cluster = items[int(i)]
        fmt = "qrs" if rng.random() < 0.3 else "ppm"
        cols["image_id"].append(f"img{rid:08d}")
        cols["bytes"].append(encode_qrs(pix) if fmt == "qrs" else encode_ppm(pix))
        cols["w"].append(int(pix.shape[1]))
        cols["h"].append(int(pix.shape[0]))
        cols["fmt"].append(fmt)
        cols["caption"].append(caption)
        cols["phash"].append(phash64(pix))
        clusters.append(cluster)
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary()),
                        ("w", pa.int32()), ("h", pa.int32()), ("fmt", pa.string()),
                        ("caption", pa.string()), ("phash", pa.int64())])
    images = pa.table(cols, schema=schema)
    truth = pa.table({"image_id": cols["image_id"], "true_cluster": clusters})
    return images, truth


def cached(data_dir: str, name: str, n_rows: int, seed: int, hot_rows: int = 0):
    """Paths of (images, truth) parquet for this input, generated on a miss.
    Each is written to a temporary name and renamed, so a killed run never
    leaves a partial file under the final name. Only the CACHE_SIZE most
    recently generated inputs are kept."""
    d = os.path.join(data_dir, f"{name}-n{n_rows}-h{hot_rows}-s{seed}")
    images_path, truth_path = os.path.join(d, "images.parquet"), os.path.join(d, "truth.parquet")
    if not (os.path.exists(images_path) and os.path.exists(truth_path)):
        os.makedirs(d, exist_ok=True)
        old = sorted((os.path.join(data_dir, e) for e in os.listdir(data_dir)),
                     key=os.path.getmtime)
        for stale in old[:-CACHE_SIZE]:
            shutil.rmtree(stale, ignore_errors=True)
        images, truth = generate(n_rows, seed, hot_rows)
        for tbl, path in ((images, images_path), (truth, truth_path)):
            pq.write_table(tbl, path + ".tmp", row_group_size=ROW_GROUP)
            os.replace(path + ".tmp", path)
    return images_path, truth_path


def head_slice(images_path: str, n_rows: int, n_files: int) -> str:
    """A directory of `n_files` parquet files holding the first `n_rows` rows
    of `images_path` (the warm-up input). Rows are shuffled at generation, so
    the head is a fair sample; one file per core gives the warm-up one scan
    task per core, which starts a full Python worker pool."""
    out = images_path.replace("images.parquet", f"head{n_rows}x{n_files}")
    if not os.path.exists(out):
        head = pq.read_table(images_path).slice(0, n_rows)
        step = -(-n_rows // n_files)
        os.makedirs(out + ".tmp", exist_ok=True)
        for i in range(n_files):
            pq.write_table(head.slice(i * step, step),
                           os.path.join(out + ".tmp", f"part-{i}.parquet"))
        os.replace(out + ".tmp", out)
    return out
