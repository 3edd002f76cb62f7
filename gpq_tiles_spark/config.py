"""TilerConfig — mirrors the reference's TilerConfig builder defaults
(/root/reference/crates/core/src/pipeline.rs:137-368, lib.rs:82-224)."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class TilerConfig:
    min_zoom: int = 0
    max_zoom: int = 14
    extent: int = 4096
    buffer_pixels: int = 8  # this project pins 8, not tippecanoe's 5 (clip.rs:23-25)
    layer_name: str = "features"
    tile_compression: str = "gzip"  # gzip | none | zstd | brotli. zstd
    # (the reference default, cli/main.rs:69) works via the `zstandard`
    # package OR the ctypes binding to a system libzstd
    # (kernels/zstd_ctypes.py); brotli is import-gated. Default stays gzip
    # — always available and foreign-reader-verified.
    simplification: str = "dp"  # dp (reference parity) | visvalingam (T18)
    # property writing [extension BEYOND the reference: its tile writer
    # emits empty properties — pipeline.rs:949/:1045 "Empty properties for
    # now" — while its TilerConfig carries the -y/-x/-X filters for field
    # METADATA only]. write_properties=True serializes each feature's
    # ``props`` column into real MVT tags with layer-level key/value
    # dictionaries, after applying the include/exclude filters below.
    # Default False keeps byte parity with the reference's actual output.
    write_properties: bool = False
    # vector_layers[].fields for the archive metadata JSON ({name ->
    # "String"|"Number"|"Boolean"}); derive from the source with
    # sources.geoparquet.field_metadata or pipeline.props_field_metadata
    layer_fields: dict[str, str] | None = None
    include_properties: list[str] | None = None
    exclude_properties: list[str] | None = None
    exclude_all_properties: bool = False
    # scale knobs
    # optional per-tile byte budget (uncompressed MVT body): the low-zoom
    # mega-tile is the one object whose size grows with input scale (a
    # whole-country z<=6 tile is one reduce task's concat+gzip). When a
    # tile's framed message bytes exceed this, deterministic hash-ordered
    # thinning (drop.tile_budget_keep_mask) trims it; capped-tile counts
    # surface in PipelineMetrics. None = unlimited, tippecanoe's
    # --no-tile-size-limit behavior (the golden fixtures' flags).
    max_tile_bytes: int | None = None
    # leaf-directory granularity escape hatch: target ENTRIES PER LEAF once
    # the archive directory goes two-level (> kernels.pmtiles.
    # ROOT_MAX_ENTRIES coalesced entries). None keeps the built-in plan
    # (leaves of max(4096, n/1024)); smaller values give finer leaves for
    # CDN range-request patterns (each tile lookup fetches one leaf). The
    # root pointer count stays capped regardless (plan_leaf_size clamps),
    # and the root-only threshold is unaffected — small archives keep the
    # exact bytes of previous rounds. The archive writer and the
    # kernel-level PMTilesAssembler read this same value, so they split
    # the directory identically at any setting.
    leaf_max_entries: int | None = None
    shuffle_partitions: int | None = None  # None -> leave session conf alone
    # salted=True splits a tile with more than hot_tile_threshold feature
    # centers into salt_buckets feature_id ranges (two-phase encode)
    hot_tile_threshold: int = 200_000
    salt_buckets: int = 16

    def validate(self) -> "TilerConfig":
        if not (0 <= self.min_zoom <= self.max_zoom <= 30):
            raise ValueError(f"invalid zoom range {self.min_zoom}..{self.max_zoom}")
        if self.extent <= 0:
            raise ValueError("extent must be positive")
        if self.tile_compression not in ("gzip", "none", "zstd", "brotli"):
            raise ValueError(f"unsupported compression {self.tile_compression!r}")
        if self.simplification not in ("dp", "visvalingam"):
            raise ValueError(f"unsupported simplification {self.simplification!r}")
        if self.max_tile_bytes is not None and self.max_tile_bytes <= 0:
            raise ValueError("max_tile_bytes must be positive or None")
        if self.leaf_max_entries is not None and self.leaf_max_entries < 16:
            raise ValueError("leaf_max_entries must be >= 16 or None")
        if self.salt_buckets < 1:
            raise ValueError("salt_buckets must be >= 1")
        if self.hot_tile_threshold < 0:
            raise ValueError("hot_tile_threshold must be >= 0")
        return self
