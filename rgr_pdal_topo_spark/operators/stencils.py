"""Distributed stencil execution: tile materialization + halo replication.

The reference's tiled pipeline builds per-tile requests with a halo
(``tileOverlap``, pointCloudCreation.py:458-495 at :489) and runs NumPy
kernels eagerly per grid (dem.py).  Here the same shape is Spark-native,
and this module is the engine's one copy of that tile layout (the flow
fill fixpoint, operators/flow.py, runs on it too):

  1. long-form grid rows are clamped to the grid extent, assigned to
     their home tile AND replicated into the halo region of up-to-3
     neighboring tiles (a deliberate row-duplication transform — Catalyst
     cannot invent it, SURVEY.md §4);
  2. one ``applyInArrow`` grouped-map stage per tile materializes a dense
     (T+2h) x (T+2h) float64 array per value column (NaN =
     missing/NoData) and runs the per-tile NumPy core — for stencils the
     *identical* reference kernel (functions/kernels.py);
  3. each tile emits only its own core cells, so the union over tiles is
     exactly the single-machine full-grid result — asserted by
     tests/test_stencils.py against the whole-grid oracle.

Global-edge boundary conditions are applied per kernel ``pad_mode``
("repeat" = _getBCgrid edge replication, "nan" = constant-NaN,
"reflect" = scipy gaussian_filter default) with np.pad on the out-of-grid
margins only; interior tile borders always see real halo data.

Scale notes: the shuffle is one hash partition by tile_id with ~(1+2h/T)^2
replication overhead; tile size bounds executor memory at
(T+2h)^2 * 8 bytes per value column per group regardless of total grid
size.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rgr_pdal_topo_spark.functions.kernels import KERNELS, kernel_halo
from rgr_pdal_topo_spark.grid import GridSpec

_PAD_NUMPY_MODE = {"repeat": "edge", "reflect": "symmetric"}


def _in_grid(grid: GridSpec) -> Column:
    """Cells inside the grid extent.  Out-of-extent rows (e.g. a point on
    the east edge, which ``grid_points`` puts at ``cell_col == ncols``)
    would scatter into wrong tile positions (negative numpy indexing) or
    crash the worker, so the tile layout drops them."""
    return (
        (F.col("cell_row") >= 0) & (F.col("cell_row") < grid.nrows)
        & (F.col("cell_col") >= 0) & (F.col("cell_col") < grid.ncols)
    )


def _materialize_with_halo(
    grid_df: DataFrame, grid: GridSpec, tile_cells: int, halo: int
) -> DataFrame:
    """Replicate each cell into every tile whose padded window needs it.

    Returns (tile_id, tr2, tc2, *grid_df's columns): the value columns
    ride along unchanged."""
    if halo > tile_cells:
        raise ValueError(f"halo {halo} must be <= tile_cells {tile_cells}")
    spark = grid_df.sparkSession
    grid_df = grid_df.filter(_in_grid(grid))
    tiles_x = math.ceil(grid.ncols / tile_cells)
    tiles_y = math.ceil(grid.nrows / tile_cells)
    offs = spark.createDataFrame(
        [(i, j) for i in (-1, 0, 1) for j in (-1, 0, 1)], "dtr int, dtc int"
    )
    t = F.lit(tile_cells)
    out = (
        grid_df.withColumn("tr", F.floor(F.col("cell_row") / t).cast("int"))
        .withColumn("tc", F.floor(F.col("cell_col") / t).cast("int"))
        .crossJoin(F.broadcast(offs))
        .withColumn("tr2", F.col("tr") + F.col("dtr"))
        .withColumn("tc2", F.col("tc") + F.col("dtc"))
        .filter(
            (F.col("tr2") >= 0) & (F.col("tr2") < tiles_y)
            & (F.col("tc2") >= 0) & (F.col("tc2") < tiles_x)
            & (F.col("cell_row") >= F.col("tr2") * t - F.lit(halo))
            & (F.col("cell_row") < (F.col("tr2") + 1) * t + F.lit(halo))
            & (F.col("cell_col") >= F.col("tc2") * t - F.lit(halo))
            & (F.col("cell_col") < (F.col("tc2") + 1) * t + F.lit(halo))
        )
        .withColumn(
            "tile_id",
            (F.col("tr2").cast("long") * F.lit(tiles_x) + F.col("tc2")),
        )
    )
    return out.select("tile_id", "tr2", "tc2", *grid_df.columns)


class _Window(NamedTuple):
    """Tile (tr2, tc2)'s padded window.  Its in-grid part, rows gr0..gr1-1
    x cols gc0..gc1-1, is the dense array a tile core receives; ``pads``
    are the out-of-grid margins np.pad restores; the tile's own (core)
    cells are rows row0..row0+n_r-1 x cols col0..col0+n_c-1."""

    gr0: int
    gc0: int
    gr1: int
    gc1: int
    pads: tuple[tuple[int, int], tuple[int, int]]
    row0: int
    col0: int
    n_r: int
    n_c: int

    @property
    def core(self) -> tuple[slice, slice]:
        """The core cells' slice of the dense array."""
        r, c = self.row0 - self.gr0, self.col0 - self.gc0
        return slice(r, r + self.n_r), slice(c, c + self.n_c)


def _map_tiles(
    tiles: DataFrame,
    grid: GridSpec,
    tile_cells: int,
    halo: int,
    value_cols: list[str],
    core: Callable[[_Window, dict[str, np.ndarray]], dict[str, np.ndarray]],
    schema: str,
) -> DataFrame:
    """Run ``core(window, dense)`` once per tile of ``_materialize_with_halo``
    rows through ``applyInArrow``.  ``dense`` maps each value column to
    its window's float64 array (NaN = no row); rows with a NULL
    ``cell_row`` (tile anchors) only make their tile's group exist.
    ``core`` returns the output columns of ``schema``."""
    T, nrows, ncols = tile_cells, grid.nrows, grid.ncols

    def per_tile(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        tr2 = tbl.column("tr2")[0].as_py()
        tc2 = tbl.column("tc2")[0].as_py()
        r0, c0 = tr2 * T - halo, tc2 * T - halo  # padded-window origin
        r1, c1 = tr2 * T + T + halo, tc2 * T + T + halo  # exclusive
        gr0, gc0 = max(r0, 0), max(c0, 0)
        gr1, gc1 = min(r1, nrows), min(c1, ncols)
        w = _Window(
            gr0, gc0, gr1, gc1,
            ((gr0 - r0, r1 - gr1), (gc0 - c0, c1 - gc1)),
            tr2 * T, tc2 * T, min(T, nrows - tr2 * T), min(T, ncols - tc2 * T),
        )
        data = tbl.filter(pc.is_valid(tbl.column("cell_row")))
        rr = data.column("cell_row").to_numpy().astype("int64") - gr0
        cc = data.column("cell_col").to_numpy().astype("int64") - gc0
        dense = {}
        for c in value_cols:
            dense[c] = np.full((gr1 - gr0, gc1 - gc0), np.nan)
            dense[c][rr, cc] = data.column(c).to_numpy().astype("float64")
        # from_pandas=True converts NaN -> NULL: a missing output is SQL
        # NULL, never NaN (the engine's output contract)
        return pa.table(
            {k: pa.array(v, from_pandas=True) for k, v in core(w, dense).items()}
        )

    return tiles.groupBy("tile_id").applyInArrow(per_tile, schema=schema)


def run_stencils(
    grid_df: DataFrame,
    grid: GridSpec,
    specs: dict[str, tuple[str, dict]],
    tile_cells: int = 64,
    value_col: str = "value",
) -> DataFrame:
    """Run one or more stencil kernels over a long-form grid in ONE shuffle.

    specs: {output_column: (kernel_name, params)}.
    Returns (cell_row int, cell_col int, <out> double ...) for every cell of
    the dense grid universe covered by tiles (missing input cells = NaN in,
    NULL/kernel-defined out).  The per-tile NumPy core runs via
    ``applyInArrow``: RecordBatch columns convert to/from NumPy without a
    pandas block-manager copy on either side of the worker.
    """
    halos = {
        out: kernel_halo(kname, params, grid.cell, grid.cell)
        for out, (kname, params) in specs.items()
    }
    halo = max(halos.values())
    dx = dy = float(grid.cell)
    out_cols = list(specs.keys())
    schema = "cell_row int, cell_col int, " + ", ".join(
        f"{c} double" for c in out_cols
    )

    def tile_core(
        w: _Window, dense: dict[str, np.ndarray]
    ) -> dict[str, np.ndarray]:
        """Run every kernel on the tile's padded window and return the
        core-region output columns."""
        valid = dense["value"]
        cols: dict[str, np.ndarray] = {}
        for out, (kname, params) in specs.items():
            k = KERNELS[kname]
            h = halos[out]
            if k.pad_mode in _PAD_NUMPY_MODE and any(map(any, w.pads)):
                arr = np.pad(valid, w.pads, mode=_PAD_NUMPY_MODE[k.pad_mode])
            else:
                arr = np.pad(valid, w.pads, mode="constant",
                             constant_values=np.nan)
            # shrink padding to this kernel's own halo
            s = halo - h
            if s:
                arr = arr[s:-s, s:-s]
            res = k.fn(arr, dx, dy, **params)
            # arr was normalized to this kernel's halo, so res always covers
            # rows r0+halo..r1-halo-1, i.e. starts exactly at the tile origin.
            cols[out] = res[:w.n_r, :w.n_c]

        rows_idx, cols_idx = np.meshgrid(
            np.arange(w.row0, w.row0 + w.n_r),
            np.arange(w.col0, w.col0 + w.n_c),
            indexing="ij",
        )
        data = {
            "cell_row": rows_idx.ravel().astype("int32"),
            "cell_col": cols_idx.ravel().astype("int32"),
        }
        for out in out_cols:
            data[out] = cols[out].ravel()
        return data

    tiles = _materialize_with_halo(
        grid_df.select("cell_row", "cell_col", F.col(value_col).alias("value")),
        grid, tile_cells, halo,
    )
    # anchor row per tile: tiles with zero input cells must still emit
    # their (all-NaN-in) core universe so the output row set is the full
    # dense grid regardless of data sparsity (matches the SQL oracles)
    spark = grid_df.sparkSession
    tiles_x = math.ceil(grid.ncols / tile_cells)
    tiles_y = math.ceil(grid.nrows / tile_cells)
    anchors = spark.range(tiles_x * tiles_y).selectExpr(
        "id AS tile_id",
        f"CAST(id DIV {tiles_x} AS INT) AS tr2",
        f"CAST(id % {tiles_x} AS INT) AS tc2",
        "CAST(NULL AS INT) AS cell_row",
        "CAST(NULL AS INT) AS cell_col",
        "CAST(NULL AS DOUBLE) AS value",
    )
    return _map_tiles(
        tiles.unionByName(anchors), grid, tile_cells, halo, ["value"],
        tile_core, schema,
    )


def run_stencil(
    grid_df: DataFrame,
    grid: GridSpec,
    kernel: str,
    params: dict | None = None,
    tile_cells: int = 64,
    out_col: str | None = None,
) -> DataFrame:
    return run_stencils(
        grid_df, grid, {out_col or kernel: (kernel, params or {})}, tile_cells
    )


def apply_kernel_full(
    arr: np.ndarray, grid: GridSpec, kernel: str, params: dict | None = None
) -> np.ndarray:
    """Single-process whole-grid oracle: same kernel, same padding."""
    params = params or {}
    k = KERNELS[kernel]
    h = kernel_halo(kernel, params, grid.cell, grid.cell)
    mode = _PAD_NUMPY_MODE.get(k.pad_mode)
    if mode:
        p = np.pad(arr, h, mode=mode)
    else:
        p = np.pad(arr, h, mode="constant", constant_values=np.nan)
    return k.fn(p, float(grid.cell), float(grid.cell), **params)
