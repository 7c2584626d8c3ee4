#!/usr/bin/env python3
"""Seeded input generators for the graft benchmark workloads.

Each generator writes one directory of inputs plus `truth.json`, the
planted-truth sidecar the output checks read. A directory is reused when
the same workload, seed and size were generated before (the sidecar is
written last, so its presence marks a complete directory).

    python3 perfbench/gen.py <workload> <seed> <out_root>

Only numpy, pyarrow and the standard library are used.
"""
import json
import math
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator's output changes, so cached directories are rebuilt.
GEN_VERSION = 1

# --------------------------------------------------------------------------
# sizes (one place; every workload's scale is set here)
# --------------------------------------------------------------------------
PULSAR = dict(n_psr=4, n_binary=2, n_obs=8, nsub=4, nchan=16, nbin=512)
CORPUS = dict(n_base=1500, n_eval=150, boiler_lines=6, max_docs_boiler=40,
              lineitem_rows=60000, query_docs=5000, query_vectors=2000)


def size_tag(workload):
    cfg = {"pulsar_chain": PULSAR, "corpus_cookbook": CORPUS}[workload]
    return "v%d-" % GEN_VERSION + "-".join("%s%s" % (k[:3], v) for k, v in sorted(cfg.items()))


# --------------------------------------------------------------------------
# pulsar_chain: one PSRFITS-shaped archive per observation
# --------------------------------------------------------------------------
def _card(key, value):
    if isinstance(value, bool):
        raw = "T" if value else "F"
    elif isinstance(value, str):
        raw = "'" + value.replace("'", "''") + "'"
    else:
        raw = repr(value)
    raw = raw.rjust(21)
    line = key.ljust(8) + "=" + raw
    assert len(line) <= 80, line
    return line.ljust(80)


def _header(cards):
    body = "".join(_card(k, v) for k, v in cards) + "END".ljust(80)
    pad = (-len(body)) % 2880
    return (body + " " * pad).encode("ascii")


def _pad_data(b):
    return b + b"\0" * ((-len(b)) % 2880)


def fits_bytes(primary, subint_rows, nbin):
    """Primary header (no data) + one SUBINT BINTABLE of (ISUB, ICHAN, PROFILE[nbin])."""
    dt = np.dtype([("ISUB", ">i4"), ("ICHAN", ">i4"), ("PROFILE", ">f8", (nbin,))])
    table = np.zeros(len(subint_rows), dtype=dt)
    for i, (isub, ichan, prof) in enumerate(subint_rows):
        table[i] = (isub, ichan, prof)
    ext = [("XTENSION", "BINTABLE"), ("BITPIX", 8), ("NAXIS", 2),
           ("NAXIS1", dt.itemsize), ("NAXIS2", len(subint_rows)),
           ("PCOUNT", 0), ("GCOUNT", 1), ("TFIELDS", 3), ("EXTNAME", "SUBINT"),
           ("TTYPE1", "ISUB"), ("TFORM1", "1J"),
           ("TTYPE2", "ICHAN"), ("TFORM2", "1J"),
           ("TTYPE3", "PROFILE"), ("TFORM3", "%dD" % nbin)]
    prim = [("SIMPLE", True), ("BITPIX", 8), ("NAXIS", 0)] + primary
    return _header(prim) + _header(ext) + _pad_data(table.tobytes())


UNIX_EPOCH_MJD = 40587.0
MJD_SWITCH = 59000.0  # the delay config's "early backend" cut


def kepler_e(m, e):
    """Eccentric anomaly for mean anomaly m (Newton, to machine precision)."""
    x = m if e < 0.8 else math.pi
    for _ in range(100):
        dx = (x - e * math.sin(x) - m) / (1.0 - e * math.cos(x))
        x -= dx
        if abs(dx) < 1e-15 * max(1.0, abs(x)):
            break
    return x


def bin_phase(mjd, pb, t0, ecc, om0):
    """Orbital phase in [0, 1): true anomaly plus periastron longitude."""
    m = (2.0 * math.pi / pb) * (mjd - t0)
    e_anom = kepler_e(m, ecc)
    nu = 2.0 * math.atan2(math.sqrt(1.0 + ecc) * math.sin(e_anom / 2.0),
                          math.sqrt(1.0 - ecc) * math.cos(e_anom / 2.0))
    return ((nu + om0) % (2.0 * math.pi)) / (2.0 * math.pi)


TEMPLATES = [[1.0, 3.0, 8.0, 3.0, 1.0],
             [2.0, 5.0, 9.0, 5.0, 2.0],
             [1.0, 2.0, 4.0, 7.0, 4.0, 2.0, 1.0]]
BANDS = {"LBAND": dict(freq=1283.582, bw="856.0", obs_bw=856.0),
         "UHF": dict(freq=815.734, bw="544.0", obs_bw=544.0)}


def gen_pulsar(seed, out):
    c = PULSAR
    rng = np.random.default_rng(seed)
    nbin, nsub, nchan = c["nbin"], c["nsub"], c["nchan"]
    arch = os.path.join(out, "archives")
    os.makedirs(arch)
    names = set()
    while len(names) < c["n_psr"]:
        names.add("J%04d%+03d%02d" % (rng.integers(0, 2400), rng.integers(-60, 60), rng.integers(0, 60)))
    names = sorted(names)
    binary = set(rng.choice(len(names), size=c["n_binary"], replace=False).tolist())
    psrs, obs = [], []
    for pi, name in enumerate(names):
        band = "LBAND" if pi % 2 == 0 else "UHF"
        tmpl = TEMPLATES[int(rng.integers(0, len(TEMPLATES)))]
        k = int(rng.integers(20, 61))            # period / nbin, integer µs
        s0 = int(rng.integers(2, 14))
        s1 = int(rng.integers(1, 3))
        nobs = c["n_obs"]
        n_low = int(rng.integers(1, 3))
        low = set(rng.choice(nobs, size=n_low, replace=False).tolist())
        # every pulsar keeps >= 3 selected observations for the 3-term fit
        assert nobs - n_low >= 3
        p = dict(psr=name, band=band, period_us=float(k * nbin), k=k, template=tmpl,
                 b0=float(s0 * k), b1=float(s1 * k), b2=0.0, binary=pi in binary,
                 rajd=float(rng.integers(0, 3600)) / 10.0,
                 decjd=-float(rng.integers(0, 800)) / 10.0, nant=int(rng.integers(40, 65)),
                 tsky=float(rng.integers(5, 40)))
        if p["binary"]:
            p.update(pb=float(rng.uniform(0.4, 9.0)), ecc=float(rng.uniform(0.0, 0.2)),
                     om0=float(rng.uniform(0.0, 2 * math.pi)))
            p["t0"] = 58000.0 + float(rng.integers(0, 200))
        psrs.append(p)
        mjd0 = MJD_SWITCH - int(rng.integers(3, 2 * nobs))
        half = len(tmpl) // 2
        for x in range(nobs):
            # MJDs on a 1/64-day grid: exactly representable in µs
            mjd = mjd0 + x * 2 + int(rng.integers(0, 64)) / 64.0
            beconfig = "avn_1k" if rng.random() < 0.5 else "ptuse"
            delay_bins = (3 if mjd < MJD_SWITCH else 0) + (2 if beconfig.startswith("avn") else 0)
            shift = s0 + s1 * x + delay_bins
            center = 8
            assert center + half + shift < nbin // 2
            gain = 0.5 if x in low else float(rng.choice([2.0, 3.0, 4.0]))
            a_noise = float(rng.choice([0.25, 0.5]))
            snr = gain * max(tmpl) / a_noise
            assert (snr < 20) == (x in low), (snr, x in low)
            prof = np.zeros(nbin)
            for j, t in enumerate(tmpl):
                prof[(center - half + j + shift) % nbin] += gain * t
            prof[nbin // 2::2] += a_noise
            prof[nbin // 2 + 1::2] -= a_noise
            # exactly representable per-channel bandpass
            scales = rng.choice([0.5, 1.0, 1.5, 2.0], size=nchan)
            rows = [(isub, ichan, prof * scales[ichan])
                    for isub in range(nsub) for ichan in range(nchan)]
            obs_id = "%s_%d" % (name, x)
            epoch = 50000000.0 + x * 1000.0
            b = BANDS[band]
            primary = [("SRC_NAME", name), ("OBSFREQ", b["freq"]), ("BW", b["bw"]),
                       ("NANT", p["nant"]), ("TOBS", 64.0), ("NBIN", nbin),
                       ("OBSBW", b["obs_bw"]), ("NCHAN", nchan),
                       ("RAJD", p["rajd"]), ("DECJD", p["decjd"]),
                       ("BECONFIG", beconfig), ("MJD", mjd),
                       ("PERIOD", p["period_us"]), ("EPOCH", epoch),
                       ("TBIN", float(k)), ("DLY0", float(2 * k))]
            with open(os.path.join(arch, obs_id + ".fits"), "wb") as f:
                f.write(fits_bytes(primary, rows, nbin))
            toa = epoch + shift * k
            o = dict(obs_id=obs_id, psr=name, x=x, mjd=mjd, shift=shift, delay_bins=delay_bins,
                     delay_us=float(delay_bins * k), toa_us=toa, snr=snr, low_snr=x in low,
                     n_samples=nsub * nchan * nbin)
            if p["binary"]:
                t_us = round((mjd - UNIX_EPOCH_MJD) * 86400e6) + (toa - epoch)
                o["toa_unix_us"] = int(t_us)
                o["bin_phase"] = bin_phase(t_us / 86400000000.0 + UNIX_EPOCH_MJD,
                                           p["pb"], p["t0"], p["ecc"], p["om0"])
            obs.append(o)
    cfg = dict(nbin=nbin, nsub=nsub, nchan=nchan, mjd_switch=MJD_SWITCH, template_center=8)
    return dict(config=cfg, pulsars=psrs, observations=obs)


# --------------------------------------------------------------------------
# corpus_cookbook: one parquet file, one row group
# --------------------------------------------------------------------------
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "for", "on"]
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, n):
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < n:
        w = "".join(rng.choice(LETTERS, size=int(rng.integers(3, 9))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _zipf_words(rng, vocab, probs, n):
    return vocab[rng.choice(len(vocab), size=n, p=probs)]


def _lines(rng, words):
    out, i = [], 0
    while i < len(words):
        ln = int(rng.integers(10, 26))
        out.append(" ".join(words[i:i + ln]))
        i += ln
    return out


def gen_corpus(seed, out):
    c = CORPUS
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    ranks = np.arange(len(vocab))
    probs = 1.0 / (ranks + 2.7) ** 1.1
    probs /= probs.sum()
    boiler = [" ".join(_zipf_words(rng, vocab, probs, int(rng.integers(8, 14))))
              for _ in range(c["boiler_lines"])]
    evals = [" ".join(_zipf_words(rng, vocab, probs, int(rng.integers(40, 61))))
             for _ in range(c["n_eval"])]

    n = c["n_base"]
    # heavy-tailed lengths (lognormal words per doc)
    lens = np.clip(rng.lognormal(math.log(80), 0.6, size=n), 50, 1200).astype(int)
    roles = rng.random(n)  # 3% exact heads, 3% near heads, 1% contaminated, 2% low quality
    docs = []  # (text, role, family)
    for i in range(n):
        words = _zipf_words(rng, vocab, probs, lens[i])
        lines = _lines(rng, list(words))
        if rng.random() < 0.3:
            for _ in range(int(rng.integers(1, 3))):
                lines.insert(int(rng.integers(0, len(lines) + 1)), boiler[int(rng.integers(0, len(boiler)))])
        if rng.random() < 0.05:
            pii = ("user%d@example.org" % rng.integers(0, 10**6)) if rng.random() < 0.5 else \
                  ("+1 555 %03d %04d" % (rng.integers(0, 1000), rng.integers(0, 10000)))
            j = int(rng.integers(0, len(lines)))
            lines[j] = lines[j] + " contact " + pii
        r = roles[i]
        if r < 0.03:
            role = "exact"
        elif r < 0.06:
            role = "near"
        elif r < 0.07:
            role = "contam"
            lines.insert(int(rng.integers(0, len(lines) + 1)), evals[int(rng.integers(0, len(evals)))])
        elif r < 0.09:
            role = "lowq"
            # symbol-heavy and stopword-free: fails the Gopher rules
            lines = [" ".join("#%s#" % w for w in ln.split(" ") if w not in STOPWORDS) for ln in lines]
        else:
            role = "plain"
        docs.append(("\n".join(lines), role, i))
    extra = []
    for text, role, fam in docs:
        if role == "exact":
            for _ in range(int(rng.integers(1, 5))):
                extra.append((text, "exact_copy", fam))
        elif role == "near":
            for _ in range(int(rng.integers(1, 4))):
                lines = text.split("\n")
                ws = [ln.split(" ") for ln in lines]
                total = sum(len(w) for w in ws)
                for _ in range(max(1, total // 100)):
                    li = int(rng.integers(0, len(ws)))
                    wi = int(rng.integers(0, len(ws[li])))
                    ws[li][wi] = vocab[int(rng.integers(20, len(vocab)))]
                extra.append(("\n".join(" ".join(w) for w in ws), "near_copy", fam))
    alld = docs + extra
    order = rng.permutation(len(alld))
    ids = np.empty(len(alld), dtype=np.int64)
    ids[order] = np.arange(len(alld))
    src = np.where(rng.random(len(alld)) < 0.7, "web", "wiki")
    texts = [d[0] for d in alld]
    # rows written in doc_id order
    perm = np.argsort(ids)
    table = pa.table({
        "doc_id": pa.array(ids[perm], pa.int64()),
        "text": pa.array([texts[i] for i in perm], pa.string()),
        "lang": pa.array(["en"] * len(alld), pa.string()),
        "source": pa.array(src[perm].tolist(), pa.string()),
        "n_chars": pa.array([len(texts[i]) for i in perm], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"), row_group_size=len(alld))
    pq.write_table(pa.table({"text": pa.array(evals, pa.string())}),
                   os.path.join(out, "eval.parquet"))

    families = {}
    for k, (text, role, fam) in enumerate(alld):
        if role in ("exact", "exact_copy", "near", "near_copy"):
            kind = "exact" if role.startswith("exact") else "near"
            families.setdefault(fam, dict(kind=kind, ids=[]))["ids"].append(int(ids[k]))
    truth = dict(
        n_docs=len(alld),
        families=sorted(([f["kind"]] + sorted(f["ids"]) for f in families.values()), key=lambda f: f[1]),
        contaminated=sorted(int(ids[k]) for k, d in enumerate(alld) if d[1] == "contam"),
        low_quality=sorted(int(ids[k]) for k, d in enumerate(alld) if d[1] == "lowq"),
        boilerplate=boiler,
        max_docs_boiler=c["max_docs_boiler"])

    # the catalog queries run on fixture-sized slices of this corpus
    qdir = os.path.join(out, "queries")
    os.makedirs(qdir)
    pq.write_table(table.slice(0, c["query_docs"]), os.path.join(qdir, "documents.parquet"),
                   row_group_size=c["query_docs"])
    m = c["lineitem_rows"]
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, m // 4, size=m)), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, size=m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, size=m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=m) / 100.0),
    }), os.path.join(qdir, "lineitem.parquet"))
    pq.write_table(_embeddings(rng, c["query_vectors"]), os.path.join(qdir, "embeddings.parquet"))
    return truth


def _embeddings(rng, n, dim=64, clusters=24, rank=6):
    """Unit-norm clustered vectors (vec_id, embedding, label), the fixture's
    embeddings schema. Each cluster spreads over its own low-rank subspace."""
    centers = rng.normal(size=(clusters, dim))
    bases = rng.normal(size=(clusters, rank, dim)) * 0.6
    lab = rng.integers(0, clusters, size=n)
    v = centers[lab] + np.einsum("nr,nrd->nd", rng.normal(size=(n, rank)), bases[lab])
    v = v + 0.05 * rng.normal(size=v.shape)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32), pa.int32()),
    })


GENERATORS = {"pulsar_chain": gen_pulsar, "corpus_cookbook": gen_corpus}


def generate(workload, seed, root):
    """Directory holding the workload's inputs for `seed`; generated on first use."""
    out = os.path.join(root, "%s-s%d-%s" % (workload, seed, size_tag(workload)))
    if os.path.exists(os.path.join(out, "truth.json")):
        return out, 0.0
    t0 = time.time()
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = GENERATORS[workload](seed, tmp)
    truth.update(workload=workload, seed=seed)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, time.time() - t0


if __name__ == "__main__":
    d, secs = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print("%s (%.2f s)" % (d, secs))
