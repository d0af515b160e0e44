"""ISO-BMFF (MP4) and Ogg container probing — pure byte-level parsers.

The r7 verdict left "video/audio containers (MP4/Ogg)" as the media
library boundary.  This module makes the CONTAINER layer real from the
public specs alone: ISO/IEC 14496-12 box structure (MP4/MOV/M4A),
RFC 3533 Ogg framing (page walk, lacing, packet reassembly, the Ogg
CRC-32), RFC 7845 (Opus-in-Ogg identification header) and the Vorbis I
spec (identification header).  Probing yields codec identity, track
geometry, timescales, durations, sample/packet counts and CRC health
WITHOUT decoding any elementary stream — the H.264/AAC/Vorbis/Opus
DSP inside stays the documented ffmpeg boundary, now reduced from
"containers" to "compressed elementary-stream decode".

Encoders (``encode_minimal_mp4``, ``build_ogg_page`` + the Opus/Vorbis
stream builders) generate spec-valid fixtures so every parser branch is
exercised by round-trip tests, matching the BMP/PPM/PNG/JPEG/WAV codec
discipline in operators/media_codecs.
"""

from __future__ import annotations

import struct

# --- ISO BMFF (MP4) box walk --------------------------------------------------

# Boxes whose payload is a sequence of child boxes (14496-12 §8).
_MP4_CONTAINERS = frozenset(
    b"moov trak mdia minf stbl edts dinf udta mvex moof traf mfra".split()
)

# Box types a valid BMFF payload may LEAD with (ftyp/styp/moov plus the
# free-space escapes 14496-12 §8.1.2 allows anywhere).  Shared between
# probe_mp4's validity check and multimodal.probe_containers's magic
# sniffer so the two can never disagree about what is probe-able
# (ADVICE r8: free/skip/wide-leading payloads were parsed here but
# sniffed as 'raw' upstream).
MP4_LEADING_BOXES = frozenset(
    b"ftyp styp moov free skip wide".split()
)


def parse_mp4_boxes(
    data: bytes, start: int = 0, end: int | None = None
) -> list[dict]:
    """Walk the box tree of an ISO-BMFF payload.

    Returns a list of ``{"type", "offset", "size", "payload_offset",
    "children"}`` dicts; container boxes recurse, leaf boxes carry an
    empty children list.  Handles the 64-bit ``largesize`` escape
    (size == 1) and the to-end-of-file escape (size == 0).  Raises
    ValueError on a truncated or malformed box header.
    """
    end = len(data) if end is None else end
    boxes: list[dict] = []
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError(f"truncated MP4 box header at offset {pos}")
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        payload_off = pos + 8
        if size == 1:  # 64-bit largesize follows the type
            if pos + 16 > end:
                raise ValueError(f"truncated largesize box at offset {pos}")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            payload_off = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < payload_off - pos or pos + size > end:
            raise ValueError(
                f"MP4 box {btype!r} at offset {pos} claims size {size} "
                f"beyond scope end {end}"
            )
        box = {
            "type": btype,
            "offset": pos,
            "size": size,
            "payload_offset": payload_off,
            "children": (
                parse_mp4_boxes(data, payload_off, pos + size)
                if btype in _MP4_CONTAINERS
                else []
            ),
        }
        boxes.append(box)
        pos += size
    return boxes


def _find(boxes: list[dict], btype: bytes) -> dict | None:
    for b in boxes:
        if b["type"] == btype:
            return b
    return None


def _fullbox_fields(data: bytes, box: dict) -> tuple[int, int]:
    """(version, payload offset past the version/flags word)."""
    off = box["payload_offset"]
    return data[off], off + 4


def probe_mp4(data: bytes) -> dict:
    """Probe an ISO-BMFF payload: brands, movie duration, per-track
    handler/codec/geometry/sample counts.  Fragmented files (§8.8)
    are first-class: trun sample counts accumulate into each track's
    ``n_samples``, ``n_fragments`` counts the moof boxes, and a
    zero mvhd duration falls back to mvex/mehd's fragment_duration.
    Pure metadata — no sample data is touched.  Raises ValueError
    when the payload is not BMFF or lacks the mandatory ftyp/moov
    boxes."""
    if len(data) < 12 or data[4:8] not in MP4_LEADING_BOXES:
        raise ValueError("not an ISO-BMFF payload (no leading ftyp/moov)")
    top = parse_mp4_boxes(data)
    ftyp = _find(top, b"ftyp")
    moov = _find(top, b"moov")
    if moov is None:
        raise ValueError("MP4 payload has no moov box (metadata missing)")
    out: dict = {"brand": None, "compatible_brands": [], "tracks": []}
    if ftyp is not None:
        p = ftyp["payload_offset"]
        out["brand"] = data[p : p + 4].decode("latin-1")
        out["compatible_brands"] = [
            data[i : i + 4].decode("latin-1")
            for i in range(p + 8, ftyp["offset"] + ftyp["size"], 4)
        ]
    mvhd = _find(moov["children"], b"mvhd")
    if mvhd is not None:
        ver, p = _fullbox_fields(data, mvhd)
        if ver == 1:  # u64 times, u32 timescale (14496-12 §8.2.2)
            timescale, duration = struct.unpack(
                ">IQ", data[p + 16 : p + 28]
            )
        else:
            timescale, duration = struct.unpack(">II", data[p + 8 : p + 16])
        out["timescale"] = timescale
        # Raw integer duration in timescale units ALONGSIDE the rounded
        # float seconds: exact-integer consumers (duration_usec hashes)
        # must not round-trip through the float (ADVICE r8 — lossless
        # for fixture ranges but silently rounding-error-bound).
        out["duration_units"] = duration
        out["duration_sec"] = round(duration / timescale, 6) if timescale else None
    for trak in (b for b in moov["children"] if b["type"] == b"trak"):
        t: dict = {
            "track_id": None,
            "handler": None,
            "codec": None,
            "width": None,
            "height": None,
            "timescale": None,
            "duration_units": None,
            "duration_sec": None,
            "n_samples": None,
        }
        tkhd = _find(trak["children"], b"tkhd")
        if tkhd is not None:
            ver, p = _fullbox_fields(data, tkhd)
            t["track_id"] = struct.unpack(
                ">I", data[p + (16 if ver == 1 else 8) :][:4]
            )[0]
            # width/height: the LAST 8 bytes of tkhd, 16.16 fixed point.
            tail = data[tkhd["offset"] + tkhd["size"] - 8 :][:8]
            w_fp, h_fp = struct.unpack(">II", tail)
            t["width"], t["height"] = w_fp >> 16, h_fp >> 16
        mdia = _find(trak["children"], b"mdia")
        if mdia is not None:
            mdhd = _find(mdia["children"], b"mdhd")
            if mdhd is not None:
                ver, p = _fullbox_fields(data, mdhd)
                if ver == 1:
                    ts, dur = struct.unpack(">IQ", data[p + 16 : p + 28])
                else:
                    ts, dur = struct.unpack(">II", data[p + 8 : p + 16])
                t["timescale"] = ts
                t["duration_units"] = dur
                t["duration_sec"] = round(dur / ts, 6) if ts else None
            hdlr = _find(mdia["children"], b"hdlr")
            if hdlr is not None:
                _, p = _fullbox_fields(data, hdlr)
                t["handler"] = data[p + 4 : p + 8].decode("latin-1")
            minf = _find(mdia["children"], b"minf")
            stbl = minf and _find(minf["children"], b"stbl")
            if stbl:
                stsd = _find(stbl["children"], b"stsd")
                if stsd is not None:
                    _, p = _fullbox_fields(data, stsd)
                    (n_entries,) = struct.unpack(">I", data[p : p + 4])
                    if n_entries:
                        t["codec"] = data[p + 8 : p + 12].decode("latin-1")
                stsz = _find(stbl["children"], b"stsz")
                if stsz is not None:
                    _, p = _fullbox_fields(data, stsz)
                    t["n_samples"] = struct.unpack(">I", data[p + 4 : p + 8])[0]
        out["tracks"].append(t)

    # Movie fragments (14496-12 §8.8, fMP4/CMAF): samples live in
    # moof/traf/trun, not the (empty) moov sample tables; the movie
    # duration lives in mvex/mehd because mvhd's is 0.
    frag_samples: dict[int, int] = {}
    moofs = [b for b in top if b["type"] == b"moof"]
    for moof in moofs:
        for traf in (b for b in moof["children"] if b["type"] == b"traf"):
            tfhd = _find(traf["children"], b"tfhd")
            if tfhd is None:
                continue
            _, p = _fullbox_fields(data, tfhd)
            (track_id,) = struct.unpack(">I", data[p : p + 4])
            for trun in (b for b in traf["children"] if b["type"] == b"trun"):
                _, p = _fullbox_fields(data, trun)
                (n,) = struct.unpack(">I", data[p : p + 4])
                frag_samples[track_id] = frag_samples.get(track_id, 0) + n
    out["n_fragments"] = len(moofs)
    if frag_samples:
        for t in out["tracks"]:
            # Only tracks that actually carry fragment samples get the
            # fragment total added; a track with no stsz AND no trun
            # keeps n_samples=None ('unknown') rather than collapsing
            # to 0.
            if t["track_id"] in frag_samples:
                t["n_samples"] = (t["n_samples"] or 0) + frag_samples[
                    t["track_id"]
                ]
    if not out.get("duration_units"):
        mvex = _find(moov["children"], b"mvex")
        mehd = mvex and _find(mvex["children"], b"mehd")
        if mehd is not None:
            ver, p = _fullbox_fields(data, mehd)
            if ver == 1:
                (dur,) = struct.unpack(">Q", data[p : p + 8])
            else:
                (dur,) = struct.unpack(">I", data[p : p + 4])
            out["duration_units"] = dur
            ts = out.get("timescale")
            out["duration_sec"] = round(dur / ts, 6) if ts else None
    return out


# --- Ogg (RFC 3533) -----------------------------------------------------------

# Ogg CRC-32: poly 0x04c11db7, init 0, no reflection, no final xor
# (RFC 3533 §6) — NOT the zlib CRC.  Table built once at import.
_OGG_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = ((_r << 1) ^ 0x04C11DB7 if _r & 0x80000000 else _r << 1) & 0xFFFFFFFF
    _OGG_CRC_TABLE.append(_r)


def ogg_crc(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC_TABLE[(crc >> 24) ^ byte]
    return crc


def build_ogg_page(
    serial: int,
    seq: int,
    granule: int,
    packets: list[bytes],
    bos: bool = False,
    eos: bool = False,
    continued: bool = False,
    open_ended: bool = False,
) -> bytes:
    """Construct one spec-valid Ogg page (correct lacing + CRC).
    ``open_ended`` ends the page on a 255 lacing value, marking the
    final packet as continuing onto the next page."""
    lacing = bytearray()
    body = bytearray()
    for i, pkt in enumerate(packets):
        body += pkt
        n = len(pkt)
        lacing += b"\xff" * (n // 255)
        if not (open_ended and i == len(packets) - 1):
            lacing.append(n % 255)
        elif n % 255:
            raise ValueError(
                "open-ended packet segment must be a multiple of 255"
            )
    if len(lacing) > 255:
        raise ValueError("too many lacing values for one page")
    header_type = (1 if continued else 0) | (2 if bos else 0) | (4 if eos else 0)
    header = (
        b"OggS\x00"
        + bytes([header_type])
        + struct.pack("<qIIIB", granule, serial, seq, 0, len(lacing))
        + bytes(lacing)
    )
    page = bytearray(header + bytes(body))
    crc = ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def parse_ogg_pages(data: bytes) -> list[dict]:
    """Walk the Ogg pages of a payload in order.  Each page dict
    carries flags, granule, serial, seq, a ``crc_ok`` verdict
    (recomputed per RFC 3533 §6) and its raw segment list.  Raises
    ValueError when the payload does not start with a capture pattern
    or a page is truncated."""
    if data[:4] != b"OggS":
        raise ValueError("not an Ogg payload (no OggS capture pattern)")
    pages: list[dict] = []
    pos = 0
    while pos < len(data):
        if data[pos : pos + 4] != b"OggS":
            raise ValueError(f"lost Ogg page sync at offset {pos}")
        if pos + 27 > len(data):
            raise ValueError(f"truncated Ogg page header at offset {pos}")
        version = data[pos + 4]
        if version != 0:
            raise NotImplementedError(
                f"Ogg stream structure version {version} (RFC 3533 "
                "defines only 0)"
            )
        htype = data[pos + 5]
        granule, serial, seq, crc, n_seg = struct.unpack(
            "<qIIIB", data[pos + 6 : pos + 27]
        )
        lacing = data[pos + 27 : pos + 27 + n_seg]
        if len(lacing) != n_seg:
            raise ValueError(f"truncated lacing table at offset {pos}")
        body_off = pos + 27 + n_seg
        body_len = sum(lacing)
        body = data[body_off : body_off + body_len]
        if len(body) != body_len:
            raise ValueError(f"truncated Ogg page body at offset {pos}")
        zeroed = bytearray(data[pos : body_off + body_len])
        zeroed[22:26] = b"\x00\x00\x00\x00"
        segments = []
        off = 0
        for lv in lacing:
            segments.append((body[off : off + lv], lv))
            off += lv
        pages.append(
            {
                "offset": pos,
                "continued": bool(htype & 1),
                "bos": bool(htype & 2),
                "eos": bool(htype & 4),
                "granule": granule,
                "serial": serial,
                "seq": seq,
                "crc_ok": ogg_crc(bytes(zeroed)) == crc,
                "segments": segments,
            }
        )
        pos = body_off + body_len
    return pages


def _reassemble_packets(pages: list[dict]) -> dict[int, list[bytes]]:
    """Join page segments into logical packets per stream serial —
    a lacing value of 255 means the packet continues (RFC 3533 §5)."""
    partial: dict[int, bytearray] = {}
    packets: dict[int, list[bytes]] = {}
    for page in pages:
        serial = page["serial"]
        buf = partial.setdefault(serial, bytearray())
        packets.setdefault(serial, [])
        if not page["continued"] and buf:
            # A non-continuation page after an unfinished packet: the
            # stream dropped a page; discard the orphan fragment.
            buf.clear()
        for seg, lacing in page["segments"]:
            buf += seg
            if lacing < 255:  # packet boundary
                packets[serial].append(bytes(buf))
                buf.clear()
    return packets


def probe_ogg(data: bytes) -> dict:
    """Probe an Ogg payload: per-stream codec identity (from the BOS
    packet magic), sample rate / channel count (Vorbis-I §4.2.2 /
    RFC 7845 §5.1 ID headers), page/packet counts, CRC health, and
    duration from the final granule position (Opus granules run at a
    fixed 48 kHz and start after ``pre_skip``; Vorbis granules run at
    the stream sample rate)."""
    pages = parse_ogg_pages(data)
    packets = _reassemble_packets(pages)
    streams: list[dict] = []
    for serial, pkts in packets.items():
        s_pages = [p for p in pages if p["serial"] == serial]
        info: dict = {
            "serial": serial,
            "codec": "unknown",
            "sample_rate": None,
            "channels": None,
            "n_pages": len(s_pages),
            "n_packets": len(pkts),
            "crc_failures": sum(1 for p in s_pages if not p["crc_ok"]),
            "last_granule": max(
                (p["granule"] for p in s_pages if p["granule"] >= 0),
                default=None,
            ),
            # Raw integer sample count at granule_rate, pre-skip
            # adjusted — exact-integer consumers use these instead of
            # round-tripping duration_sec (ADVICE r8).
            "duration_samples": None,
            "granule_rate": None,
            "duration_sec": None,
        }
        first = pkts[0] if pkts else b""
        if first.startswith(b"\x01vorbis"):
            info["codec"] = "vorbis"
            info["channels"] = first[11]
            (info["sample_rate"],) = struct.unpack("<I", first[12:16])
            if info["last_granule"] is not None and info["sample_rate"]:
                info["duration_samples"] = info["last_granule"]
                info["granule_rate"] = info["sample_rate"]
                info["duration_sec"] = round(
                    info["last_granule"] / info["sample_rate"], 6
                )
        elif first.startswith(b"OpusHead"):
            info["codec"] = "opus"
            info["channels"] = first[9]
            (pre_skip,) = struct.unpack("<H", first[10:12])
            # input_sample_rate is informational; granules are 48 kHz.
            (info["sample_rate"],) = struct.unpack("<I", first[12:16])
            if info["last_granule"] is not None:
                info["duration_samples"] = max(
                    info["last_granule"] - pre_skip, 0
                )
                info["granule_rate"] = 48_000
                info["duration_sec"] = round(
                    info["duration_samples"] / 48_000.0, 6
                )
        elif first.startswith(b"\x80theora"):
            info["codec"] = "theora"
        elif first.startswith(b"\x7fFLAC"):
            info["codec"] = "flac"
        elif first.startswith(b"fishead\x00"):
            info["codec"] = "skeleton"
        streams.append(info)
    return {"n_pages": len(pages), "streams": streams}


# --- Fixture stream builders ----------------------------------------------------


def encode_minimal_mp4(
    width: int = 64,
    height: int = 48,
    n_samples: int = 30,
    timescale: int = 600,
    duration: int = 600,
) -> bytes:
    """A minimal spec-valid MP4: ftyp + mdat (fake sample bytes) +
    moov/mvhd + one video trak with the full tkhd/mdia/minf/stbl
    spine.  The mdat content is NOT valid H.264 — container probing
    never reads it; this is a fixture for the metadata layer."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom" + b"mp41")
    sample = bytes(range(16))
    mdat = box(b"mdat", sample * n_samples)
    mvhd = box(
        b"mvhd",
        b"\x00\x00\x00\x00"  # version 0, flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + bytes(10)  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x07"
        + struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)  # track id
        + bytes(4)
        + struct.pack(">I", duration)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = box(
        b"mdhd",
        b"\x00\x00\x00\x00"
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, duration)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = box(
        b"hdlr",
        b"\x00\x00\x00\x00" + bytes(4) + b"vide" + bytes(12) + b"fixture\x00",
    )
    # stsd with one visual sample entry (14496-12 §12.1.3 layout).
    entry = (
        struct.pack(">I", 8 + 78)
        + b"avc1"
        + bytes(6)
        + struct.pack(">H", 1)  # data_reference_index
        + bytes(16)
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
        + bytes(4)
        + struct.pack(">H", 1)  # frame count
        + bytes(32)  # compressor name
        + struct.pack(">Hh", 24, -1)
    )
    stsd = box(b"stsd", b"\x00\x00\x00\x00" + struct.pack(">I", 1) + entry)
    stts = box(
        b"stts",
        b"\x00\x00\x00\x00"
        + struct.pack(">I", 1)
        + struct.pack(">II", n_samples, max(duration // max(n_samples, 1), 1)),
    )
    stsc = box(
        b"stsc",
        b"\x00\x00\x00\x00" + struct.pack(">I", 1) + struct.pack(">III", 1, n_samples, 1),
    )
    stsz = box(
        b"stsz",
        b"\x00\x00\x00\x00" + struct.pack(">II", len(sample), n_samples),
    )
    stco = box(
        b"stco",
        b"\x00\x00\x00\x00"
        + struct.pack(">I", 1)
        + struct.pack(">I", len(ftyp) + 8),
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = box(
        b"dinf",
        box(
            b"dref",
            b"\x00\x00\x00\x00"
            + struct.pack(">I", 1)
            + box(b"url ", b"\x00\x00\x00\x01"),
        ),
    )
    vmhd = box(b"vmhd", b"\x00\x00\x00\x01" + bytes(8))
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def encode_minimal_fragmented_mp4(
    width: int = 64,
    height: int = 48,
    fragment_samples: tuple[int, ...] = (10, 10, 10),
    timescale: int = 600,
    sample_duration: int = 20,
) -> bytes:
    """A minimal spec-valid FRAGMENTED MP4 (14496-12 §8.8): ftyp +
    moov whose sample tables are EMPTY (all samples live in movie
    fragments) with an mvex/mehd+trex, then one moof(mfhd, traf(tfhd,
    trun)) + mdat pair per entry of ``fragment_samples``, closed by an
    mfra(tfra, mfro).  mvhd/mdhd durations are 0 — for fMP4 the movie
    duration is mvex/mehd's fragment_duration, exactly as real
    packagers (CMAF/DASH segmenters) write it.  mdat bytes are fake;
    probing never reads them."""

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def fullbox(btype: bytes, ver: int, flags: int, payload: bytes) -> bytes:
        return box(btype, struct.pack(">I", (ver << 24) | flags) + payload)

    total_samples = sum(fragment_samples)
    total_duration = total_samples * sample_duration
    sample_size = 16

    ftyp = box(b"ftyp", b"iso5" + struct.pack(">I", 0) + b"iso5" + b"mp41")
    mvhd = fullbox(
        b"mvhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, 0)  # duration 0: see mehd
        + struct.pack(">I", 0x00010000)
        + struct.pack(">H", 0x0100)
        + bytes(10)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + bytes(24)
        + struct.pack(">I", 2),
    )
    tkhd = fullbox(
        b"tkhd",
        0,
        7,
        struct.pack(">II", 0, 0)
        + struct.pack(">I", 1)
        + bytes(4)
        + struct.pack(">I", 0)
        + bytes(8)
        + struct.pack(">HHHH", 0, 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    mdhd = fullbox(
        b"mdhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", timescale, 0)
        + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = fullbox(b"hdlr", 0, 0, bytes(4) + b"vide" + bytes(12) + b"frag\x00")
    entry = (
        struct.pack(">I", 8 + 78)
        + b"avc1"
        + bytes(6)
        + struct.pack(">H", 1)
        + bytes(16)
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000)
        + bytes(4)
        + struct.pack(">H", 1)
        + bytes(32)
        + struct.pack(">Hh", 24, -1)
    )
    stsd = fullbox(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    # Empty sample tables: every sample lives in a fragment.
    stts = fullbox(b"stts", 0, 0, struct.pack(">I", 0))
    stsc = fullbox(b"stsc", 0, 0, struct.pack(">I", 0))
    stsz = fullbox(b"stsz", 0, 0, struct.pack(">II", 0, 0))
    stco = fullbox(b"stco", 0, 0, struct.pack(">I", 0))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    dinf = box(
        b"dinf",
        fullbox(
            b"dref", 0, 0, struct.pack(">I", 1) + fullbox(b"url ", 0, 1, b"")
        ),
    )
    vmhd = fullbox(b"vmhd", 0, 1, bytes(8))
    minf = box(b"minf", vmhd + dinf + stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", tkhd + mdia)
    mehd = fullbox(b"mehd", 0, 0, struct.pack(">I", total_duration))
    trex = fullbox(
        b"trex",
        0,
        0,
        struct.pack(">IIIII", 1, 1, sample_duration, sample_size, 0),
    )
    mvex = box(b"mvex", mehd + trex)
    moov = box(b"moov", mvhd + trak + mvex)

    out = ftyp + moov
    for seq, n in enumerate(fragment_samples, start=1):
        mfhd = fullbox(b"mfhd", 0, 0, struct.pack(">I", seq))
        # tfhd flag 0x020000: default-base-is-moof (CMAF style).
        tfhd = fullbox(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
        # trun flag 0x1: data-offset present; sizes/durations come
        # from the trex defaults.
        trun = fullbox(b"trun", 0, 0x000001, struct.pack(">Ii", n, 0))
        traf = box(b"traf", tfhd + trun)
        moof = box(b"moof", mfhd + traf)
        # Fix up the trun data_offset to point at the mdat payload
        # (relative to moof start under default-base-is-moof).
        data_offset = len(moof) + 8
        trun = fullbox(
            b"trun", 0, 0x000001, struct.pack(">Ii", n, data_offset)
        )
        traf = box(b"traf", tfhd + trun)
        moof = box(b"moof", mfhd + traf)
        mdat = box(b"mdat", bytes(range(16)) * n)
        out += moof + mdat
    # mfra: one tfra with zero entries + the mandatory trailing mfro.
    tfra = fullbox(
        b"tfra", 0, 0, struct.pack(">III", 1, 0, 0)
    )
    mfro_size = 8 + len(tfra) + 8 + 4 + 4  # mfra hdr + tfra + mfro
    mfra = box(b"mfra", tfra + fullbox(b"mfro", 0, 0, struct.pack(">I", mfro_size)))
    return out + mfra


def encode_minimal_opus_ogg(
    n_audio_packets: int = 4,
    samples_per_packet: int = 960,
    pre_skip: int = 312,
) -> bytes:
    """A minimal spec-valid Opus-in-Ogg stream (RFC 7845 layout):
    BOS page with OpusHead, a page with OpusTags, then audio pages
    whose packet bytes are fake (probing never decodes them) but
    whose granule positions are real 48 kHz sample counts."""
    serial = 0x0D15EA5E
    head = (
        b"OpusHead"
        + bytes([1, 2])  # version 1, stereo
        + struct.pack("<H", pre_skip)
        + struct.pack("<I", 48_000)
        + struct.pack("<h", 0)
        + b"\x00"
    )
    tags = b"OpusTags" + struct.pack("<I", 7) + b"fixture" + struct.pack("<I", 0)
    out = build_ogg_page(serial, 0, 0, [head], bos=True)
    out += build_ogg_page(serial, 1, 0, [tags])
    granule = pre_skip
    for i in range(n_audio_packets):
        granule += samples_per_packet
        out += build_ogg_page(
            serial,
            2 + i,
            granule,
            [bytes([i % 251]) * 40],
            eos=(i == n_audio_packets - 1),
        )
    return out


def encode_minimal_vorbis_ogg(
    sample_rate: int = 44_100,
    channels: int = 2,
    n_audio_packets: int = 4,
    samples_per_packet: int = 1024,
) -> bytes:
    """A minimal Vorbis-in-Ogg stream: real identification header
    (Vorbis I §4.2.2), fake comment/setup/audio packet bytes."""
    serial = 0x5EED
    ident = (
        b"\x01vorbis"
        + struct.pack("<I", 0)  # vorbis_version
        + bytes([channels])
        + struct.pack("<I", sample_rate)
        + struct.pack("<iii", 0, 128_000, 0)
        + bytes([0xB8])  # blocksize nibble pair
        + b"\x01"  # framing bit
    )
    comment = b"\x03vorbis" + bytes(8)
    setup = b"\x05vorbis" + bytes(16)
    out = build_ogg_page(serial, 0, 0, [ident], bos=True)
    out += build_ogg_page(serial, 1, 0, [comment, setup])
    granule = 0
    for i in range(n_audio_packets):
        granule += samples_per_packet
        out += build_ogg_page(
            serial,
            2 + i,
            granule,
            [bytes([(i * 7) % 251]) * 33],
            eos=(i == n_audio_packets - 1),
        )
    return out


# --- RIFF / WAVE (Microsoft/IBM WAVE spec; RIFF chunk grammar) ----------------


def probe_wav(data: bytes) -> dict:
    """Parse a RIFF/WAVE file's chunk tree — pure byte walk of the
    public WAVE format: the RIFF header (magic, declared size, WAVE
    form type), then a chunk walk honoring the spec's odd-size pad
    byte, requiring one 'fmt ' chunk before 'data'.  Returns exact
    integers: format tag, channels, sample_rate, bits_per_sample,
    n_frames (data size / block align), duration_usec.

    Raises ValueError on malformed input (the documented 'corrupt'
    contract shared by probe_mp4/probe_ogg): bad magic, truncated
    chunks, a declared RIFF size beyond the payload, a chunk crossing
    the declared RIFF envelope (even when trailing payload bytes
    would cover it), a duplicate 'data' chunk, a block-align that
    contradicts channels*bits/8, or a data size that is not a whole
    number of frames."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    (riff_size,) = struct.unpack("<I", data[4:8])
    if 8 + riff_size > len(data):
        raise ValueError("declared RIFF size beyond payload")
    end = 8 + riff_size
    pos = 12
    fmt: dict | None = None
    out: dict = {"chunks": []}
    while pos + 8 <= end:
        ctype = data[pos : pos + 4]
        (csize,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        # Bound by the declared RIFF envelope, not len(data): a chunk
        # that fits trailing garbage past `end` is still malformed.
        if pos + 8 + csize > end:
            raise ValueError(f"truncated {ctype!r} chunk")
        body = data[pos + 8 : pos + 8 + csize]
        out["chunks"].append(ctype.decode("latin1"))
        if ctype == b"fmt ":
            if csize < 16:
                raise ValueError("fmt chunk too short")
            tag, ch, rate, _byterate, align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if ch == 0 or rate == 0 or align == 0:
                raise ValueError("zero channels, sample rate, or block align")
            # The ch*bits/8 relation holds for PCM only — ADPCM-family
            # formats declare a codec block size unrelated to it.
            if tag == 1 and align != ch * bits // 8:
                raise ValueError("block align contradicts channels*bits/8")
            fmt = {
                "format_tag": tag,
                "channels": ch,
                "sample_rate": rate,
                "bits": bits,
                "block_align": align,
            }
        elif ctype == b"data":
            if fmt is None:
                raise ValueError("data chunk before fmt")
            if "n_frames" in out:
                raise ValueError("duplicate data chunk")
            if csize % fmt["block_align"]:
                raise ValueError("data size not whole frames")
            n = csize // fmt["block_align"]
            out.update(fmt)
            out["n_frames"] = n
            out["duration_usec"] = n * 1_000_000 // fmt["sample_rate"]
        pos += 8 + csize + (csize & 1)  # RIFF pads odd chunks
    if "n_frames" not in out:
        raise ValueError("no data chunk")
    return out


def encode_minimal_wav(
    sample_rate: int = 8_000,
    channels: int = 1,
    bits: int = 16,
    n_frames: int = 100,
    with_list_chunk: bool = False,
) -> bytes:
    """A minimal spec-valid PCM WAVE file: RIFF header, 'fmt ' (PCM
    tag 1), optionally a LIST/INFO chunk BEFORE data (so probes must
    walk chunks, not assume fixed offsets; odd-sized to exercise the
    RIFF pad byte), then 'data' with deterministic fake sample
    bytes."""
    align = channels * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, channels, sample_rate, sample_rate * align, align, bits
    )
    chunks = [b"fmt " + struct.pack("<I", len(fmt)) + fmt]
    if with_list_chunk:
        info = b"INFOISFT" + struct.pack("<I", 5) + b"synth"  # 5 is odd
        chunks.append(b"LIST" + struct.pack("<I", len(info)) + info + b"\x00")
    pcm = bytes((i * 31) % 251 for i in range(n_frames * align))
    chunks.append(b"data" + struct.pack("<I", len(pcm)) + pcm)
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body
