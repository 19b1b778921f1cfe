"""Deterministic synthetic corpora (FIXTURES.md F1/F2).

Everything is a pure function of the row index — no wall clock, no ``random``
module (replacing the reference's ``datetime.now()`` / ``random`` ingestion
columns, ``auto_processor.py:145,218,416-421``) — so the Spark pipeline, the
pandas oracle and the DuckDB checks all see byte-identical inputs, and the
generator distributes trivially (``spark.range(N).mapInPandas``).

F1 `documents_interleaved`: (doc_id, spans[]) with Zipf-skewed hub entities —
the first entity of each pool is sampled with probability ~sqrt(1/|pool|), so
one Organization / one ExternalIP shows up in a large fraction of docs and the
salted-aggregation path is actually exercised (SURVEY.md §7 "what's hard" e).

F2 `network_logs`: NetworkLogEntry-shaped rows with planted detector patterns
(port scanner, exfiltrator, degree spike, multi-stage, recon-to-exploit).
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd

from . import gazetteer as G

# --- counter-based deterministic RNG (splitmix64) ---------------------------

_MASK = (1 << 64) - 1


def _mix(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _MASK
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return z ^ (z >> 31)


def _u(seed: int, *counters: int) -> float:
    """Uniform [0,1) from (seed, counters) — stateless, order-independent."""
    h = seed & _MASK
    for c in counters:
        h = _mix(h ^ ((c * 0x9E3779B97F4A7C15) & _MASK))
    return (h >> 11) / float(1 << 53)


def _zipf_idx(n: int, u: float) -> int:
    """Head-heavy index in [0, n): index 0 drawn with prob ~sqrt(1/n)."""
    i = int(n * u * u)
    return n - 1 if i >= n else i


# --- F1: interleaved documents ----------------------------------------------

_PATTERNS = G.RELATION_PATTERNS
_REV_PATTERNS = G.REVERSED_RELATION_PATTERNS
_NOISE = (
    "Nothing notable occurred that afternoon.",
    "The quarterly report remains under review.",
    "Analysts continue monitoring the situation closely.",
)
_MEDIA_KINDS = ("image", "audio", "table")

SEED = 42


def _pick_entity(etype: str, u_val: float, avoid: str | None = None) -> tuple[str, tuple[str, ...]]:
    pool = G.ENTITIES_BY_TYPE[etype]
    idx = _zipf_idx(len(pool), u_val)
    label, _, surfaces = pool[idx]
    if avoid is not None and label == avoid:
        label, _, surfaces = pool[(idx + 1) % len(pool)]
    return label, surfaces


def _sentence(doc_i: int, s_i: int) -> str:
    """One deterministic sentence for (doc, sentence) counters."""
    r = _u(SEED, doc_i, s_i, 0)
    if r < 0.06:
        return _NOISE[int(_u(SEED, doc_i, s_i, 1) * len(_NOISE))]
    if r < 0.12:
        # mention-only sentence: entity appears, no relation surface
        etype = ("Person", "Organization", "ExternalIP", "Attack")[
            int(_u(SEED, doc_i, s_i, 2) * 4)
        ]
        label, surfaces = _pick_entity(etype, _u(SEED, doc_i, s_i, 3))
        surf = surfaces[int(_u(SEED, doc_i, s_i, 4) * len(surfaces))]
        return f"{surf} attended quietly."
    reversed_pattern = r > 0.92
    patterns = _REV_PATTERNS if reversed_pattern else _PATTERNS
    p_idx = int(_u(SEED, doc_i, s_i, 5) * len(patterns))
    subj_type, obj_type, surface, _pred = patterns[p_idx]
    subj_label, subj_surfaces = _pick_entity(subj_type, _u(SEED, doc_i, s_i, 6))
    obj_label, obj_surfaces = _pick_entity(
        obj_type, _u(SEED, doc_i, s_i, 7),
        avoid=subj_label if subj_type == obj_type else None,
    )
    ss = subj_surfaces[int(_u(SEED, doc_i, s_i, 8) * len(subj_surfaces))]
    os_ = obj_surfaces[int(_u(SEED, doc_i, s_i, 9) * len(obj_surfaces))]
    return f"{ss} {surface} {os_}."


def gen_doc(i: int) -> dict:
    """Interleaved document for index i: 1-8 spans, text + media interleaved,
    strictly increasing char offsets (span order recoverable from offset)."""
    doc_id = f"doc{i:08d}"
    n_spans = 1 + int(_u(SEED, i, 101) * 8)
    spans: list[dict] = []
    offset = 0
    sent_counter = 0
    for j in range(n_spans):
        is_media = _u(SEED, i, 200 + j) < 0.3 and j > 0
        if is_media:
            kind = _MEDIA_KINDS[int(_u(SEED, i, 300 + j) * len(_MEDIA_KINDS))]
            spans.append(
                {"kind": kind, "text": "", "media_ref": f"m://{doc_id}/{j}",
                 "offset": offset}
            )
            offset += 64
        else:
            n_sents = 1 + int(_u(SEED, i, 400 + j) * 4)
            sents = []
            for _ in range(n_sents):
                sents.append(_sentence(i, sent_counter))
                sent_counter += 1
            text = " ".join(sents)
            spans.append(
                {"kind": "text", "text": text, "media_ref": "", "offset": offset}
            )
            offset += len(text) + 1
    return {"doc_id": doc_id, "spans": spans}


def documents_df(spark, n_docs: int):
    """Distributed generation: spark.range → mapInPandas(gen_doc).

    Scale path: generation is stateless per index, so this parallelizes to any
    cluster size without coordination (each partition renders its own range).
    """
    from .schemas import DOCUMENTS_INTERLEAVED_SCHEMA

    def render(batches):
        for pdf in batches:
            yield pd.DataFrame([gen_doc(int(i)) for i in pdf["id"]])

    n_parts = max(1, min(512, n_docs // 256 or 1))
    return (
        spark.range(0, n_docs, numPartitions=n_parts)
        .mapInPandas(render, schema=DOCUMENTS_INTERLEAVED_SCHEMA)
    )


# --- binary-document fixtures (S8) ------------------------------------------


def minimal_docx_bytes(paragraphs: tuple[str, ...]) -> bytes:
    """Deterministic minimal .docx: a zip holding [Content_Types].xml +
    word/document.xml (the member sources/documents.docx_bytes_to_text and
    real readers parse). Fixed zip timestamps → byte-stable output."""
    import io
    import zipfile

    body = "".join(
        f"<w:p><w:r><w:t>{p.replace('&', '&amp;').replace('<', '&lt;')}"
        "</w:t></w:r></w:p>"
        for p in paragraphs
    )
    doc = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        f"{body}</w:body></w:document>"
    )
    ctypes = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
        'content-types"><Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.wordprocessingml.document.main+xml"/>'
        "</Types>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in (("[Content_Types].xml", ctypes),
                              ("word/document.xml", doc)):
            zi = zipfile.ZipInfo(name, date_time=(2026, 1, 1, 0, 0, 0))
            z.writestr(zi, content)
    return buf.getvalue()


def minimal_pdf_bytes(lines: tuple[str, ...], compress: bool = True) -> bytes:
    """Deterministic minimal one-page PDF whose content stream shows ``lines``
    via Tj operators — FlateDecode when ``compress`` (the class
    sources/documents.pdf_bytes_to_text targets)."""
    import zlib

    def esc(s: str) -> str:
        return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")

    ops = "BT /F1 12 Tf 72 720 Td " + " T* ".join(
        f"({esc(ln)}) Tj" for ln in lines
    ) + " ET"
    stream = zlib.compress(ops.encode("latin-1")) if compress else ops.encode(
        "latin-1"
    )
    filt = " /Filter /FlateDecode" if compress else ""
    objs = [
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj",
        b"4 0 obj << /Length %d%s >> stream\n%s\nendstream endobj"
        % (len(stream), filt.encode(), stream),
    ]
    out = b"%PDF-1.4\n" + b"\n".join(objs)
    out += b"\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    return out


def minimal_png_bytes(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Deterministic solid-color 8-bit RGB PNG (filter-0 scanlines) built
    with stdlib zlib + crc32 — decodable by functions/mediacodecs.decode_png
    AND any real PNG reader."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width
    idat = zlib.compress(row * height)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b""))


def minimal_bmp_bytes(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Deterministic solid-color 24-bit BI_RGB bottom-up BMP."""
    import struct

    row = (bytes(rgb[::-1]) * width)
    row += b"\x00" * ((-len(row)) % 4)
    pixels = row * height
    offset = 14 + 40
    header = (b"BM" + struct.pack("<IHHI", offset + len(pixels), 0, 0, offset)
              + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                            len(pixels), 2835, 2835, 0, 0))
    return header + pixels


def minimal_ppm_bytes(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Deterministic solid-color P6 PPM."""
    return (f"P6\n{width} {height}\n255\n".encode()
            + bytes(rgb) * (width * height))


def minimal_jpeg_bytes(width: int, height: int,
                       rgb: tuple[int, int, int] | None = None) -> bytes:
    """Deterministic baseline JPEG (4:4:4, Annex K tables) via the stdlib
    encoder in functions/mediacodecs. Solid color when ``rgb`` given, else a
    deterministic gradient; byte-stable (no clock, no randomness)."""
    import numpy as _np

    from .functions.mediacodecs import encode_jpeg

    if rgb is not None:
        img = _np.tile(
            _np.array(rgb, dtype=_np.uint8), (height, width, 1)
        )
    else:
        g = (_np.add.outer(_np.arange(height), _np.arange(width)) % 256)
        img = _np.stack([g, 255 - g, (g * 3) % 256], axis=-1).astype(_np.uint8)
    return encode_jpeg(img, quality=90)


def minimal_gif_bytes(width: int, height: int,
                      rgb: tuple[int, int, int]) -> bytes:
    """Deterministic solid-color single-frame GIF89a via the stdlib encoder
    in functions/mediacodecs (byte-stable)."""
    import numpy as _np

    from .functions.mediacodecs import encode_gif

    return encode_gif(
        _np.tile(_np.array(rgb, dtype=_np.uint8), (height, width, 1))
    )


def minimal_tiff_bytes(width: int, height: int,
                       rgb: tuple[int, int, int]) -> bytes:
    """Deterministic solid-color uncompressed RGB TIFF via the stdlib
    encoder in functions/mediacodecs (byte-stable)."""
    import numpy as _np

    from .functions.mediacodecs import encode_tiff

    return encode_tiff(
        _np.tile(_np.array(rgb, dtype=_np.uint8), (height, width, 1))
    )


def minimal_wav_bytes(duration_ms: int, sample_rate: int = 8000,
                      freq_step: int = 7) -> bytes:
    """Deterministic 16-bit mono PCM WAV (sawtooth of the frame index)."""
    import io as _io
    import wave

    import numpy as _np

    n = (duration_ms * sample_rate) // 1000
    samples = ((_np.arange(n) * freq_step) % 2048 - 1024).astype(_np.int16)
    buf = _io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


# --- F2: network logs --------------------------------------------------------

_EPOCH = datetime(2026, 1, 1, 0, 0, 0)
_SERVICE_PORT_POOL = (80, 443, 22, 21, 53, 25, 3306, 3389)
_ATTACK_CATS = ("Reconnaissance", "DoS", "Exploits", "Fuzzers")

# planted actors (FIXTURES.md F2)
SCANNER_IP = "10.9.9.9"
SCAN_TARGET = "192.168.1.50"
EXFIL_IP = "192.168.1.66"
EXFIL_DST = "203.0.113.99"
DEGREE_SPIKE_IP = "10.8.8.8"
MULTI_STAGE_IP = "10.7.7.7"
RECON_EXPLOIT_IP = "10.6.6.6"
MALWARE_PORT_IP = "192.168.1.99"
EPHEMERAL_IP = "10.5.5.5"


def _baseline_log(i: int) -> dict:
    u1, u2, u3, u4 = (_u(7, i, k) for k in range(4))
    src = f"192.168.1.{10 + int(u1 * 40)}" if u1 < 0.75 else f"10.0.0.{5 + int(u1 * 50)}"
    dst = (
        f"192.168.2.{1 + int(u2 * 200)}"
        if u2 < 0.8
        else f"203.0.113.{1 + int(u2 * 200)}"
    )
    port = _SERVICE_PORT_POOL[int(u3 * len(_SERVICE_PORT_POOL))]
    proto = "ICMP" if i % 997 == 0 else ("UDP" if u4 < 0.15 else "TCP")
    is_attack = u4 > 0.97
    return {
        "timestamp": _EPOCH + timedelta(seconds=i),
        "source_ip": src,
        "dest_ip": dst,
        "source_port": 1024 + (i % 60000),
        "dest_port": port,
        "protocol": proto,
        "bytes_sent": int(200 + u3 * 50000),
        "bytes_received": int(100 + u2 * 20000),
        "duration": round(u1 * 30.0, 3),
        "action": "deny" if is_attack else "allow",
        "user": None,
        "attack_type": _ATTACK_CATS[int(u3 * 4)] if is_attack else None,
    }


def _planted_logs(n_base: int) -> list[dict]:
    rows: list[dict] = []
    t = n_base

    def log(src, dst, port, bytes_sent=1500, attack=None, proto="TCP"):
        nonlocal t
        rows.append(
            {
                "timestamp": _EPOCH + timedelta(seconds=t),
                "source_ip": src, "dest_ip": dst,
                "source_port": 1024 + (t % 60000), "dest_port": port,
                "protocol": proto, "bytes_sent": bytes_sent,
                "bytes_received": 256, "duration": 0.5,
                "action": "deny" if attack else "allow",
                "user": None, "attack_type": attack,
            }
        )
        t += 1

    # port scanner: 25 distinct ports on one target (threshold 10 / fan-out 5)
    for k in range(25):
        log(SCANNER_IP, SCAN_TARGET, 1000 + k, attack="Reconnaissance")
    # exfiltrator: 12 × 20 MB internal → external ( ≥10 MB threshold)
    for k in range(12):
        log(EXFIL_IP, EXFIL_DST, 443, bytes_sent=20_000_000, attack="Exploits")
    # degree spike: 120 connections to distinct destinations
    for k in range(120):
        log(DEGREE_SPIKE_IP, f"192.168.3.{k % 250}", 80)
    # multi-stage: >5 distinct ports AND >50 connections
    for k in range(60):
        log(MULTI_STAGE_IP, "192.168.1.77", _SERVICE_PORT_POOL[k % 8], attack="DoS")
    # recon-to-exploit: 15 distinct ports, 42 conns, top-3 focus 30/42 ≈ 0.71
    for k in range(12):
        log(RECON_EXPLOIT_IP, "192.168.1.88", 2000 + k, attack="Exploits")
    for p in (22, 3389, 445):
        for _ in range(10):
            log(RECON_EXPLOIT_IP, "192.168.1.88", p, attack="Exploits")
    # suspicious-port hits: internal → external on known-malware ports
    # (network_parser.py:53, graph_anomaly_detector.py:292-301)
    for p, n in ((4444, 4), (31337, 2), (5555, 2)):
        for _ in range(n):
            log(MALWARE_PORT_IP, "203.0.113.50", p, attack="Exploits")
    # high-ephemeral-port traffic (anomaly_detector.py:236-238)
    for _ in range(3):
        log(EPHEMERAL_IP, "192.168.5.5", 55555)
    return rows


def gen_network_logs_pdf(n_rows: int = 2000) -> pd.DataFrame:
    """Baseline traffic + planted patterns; columns match NETWORK_LOG_SCHEMA."""
    rows = [_baseline_log(i) for i in range(n_rows)]
    rows.extend(_planted_logs(n_rows))
    return pd.DataFrame(rows)


def network_logs_df(spark, n_rows: int = 2000):
    from .schemas import NETWORK_LOG_SCHEMA

    return spark.createDataFrame(gen_network_logs_pdf(n_rows), schema=NETWORK_LOG_SCHEMA)
