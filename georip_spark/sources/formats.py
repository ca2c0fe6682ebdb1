"""Annotation format converters, Spark-first.

Reference provenance:
- CSV labels: parse_labels_from_csv (georip/modeling/utils.py:263-364)
  — key remapping + NaN handling → spark.read.csv + select/alias
- COCO JSON: coco_json_to_dataframe (georip/modeling/coco.py:106-204)
  — images×annotations×categories joined by id → spark.read.json +
  explode + two broadcast joins
- PascalVOC XML: pascal_xml_to_dataframe
  (georip/modeling/pascalvoc.py:80-188) — no spark-xml in this
  environment, so a mapInPandas stdlib-ElementTree parser over
  (path, xml_text) rows
- YOLO label sink: generate_label_files
  (georip/modeling/yolo/__init__.py:478-599) — per-image text files
  become groupBy(filename) + concat_ws lines; background rows emit
  empty strings (the reference's empty label file)
- data.yaml manifest: generate_yaml_file
  (georip/modeling/yolo/__init__.py:601-649) — driver-side small file
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from georip_spark import functions as GF


def read_label_csv(
    spark: SparkSession,
    path: str,
    column_map: dict[str, str] | None = None,
) -> DataFrame:
    """CSV → labels with column renaming (the reference's key-remap
    kwargs) and numeric coercion with invalid-row drop (P6)."""
    df = spark.read.csv(path, header=True, inferSchema=False)
    if column_map:
        for old, new in column_map.items():
            if old in df.columns:
                df = df.withColumnRenamed(old, new)
    # try_cast: ANSI mode (Spark 4 default) makes cast() THROW on
    # malformed strings; the reference coerces to NaN and drops
    # (pd.to_numeric(errors="coerce"), georip/geoprocessing/utils.py:365-388)
    for c, t in (("class_id", "int"), ("width", "int"), ("height", "int"),
                 ("bbox_x", "double"), ("bbox_y", "double"),
                 ("bbox_w", "double"), ("bbox_h", "double")):
        if c in df.columns:
            df = df.withColumn(c, F.col(c).try_cast(t))
    if "class_id" in df.columns:
        df = df.filter(F.col("class_id").isNotNull())
    return df


def read_coco_json(spark: SparkSession, path: str, classes: list[str] | None = None) -> DataFrame:
    """COCO annotations → one row per annotation, joined to its image
    and category (broadcast — both are small dims)."""
    raw = spark.read.option("multiLine", "true").json(path)
    images = raw.select(F.explode("images").alias("im")).select(
        F.col("im.id").alias("image_id"),
        F.col("im.file_name").alias("filename"),
        F.col("im.width").alias("width"),
        F.col("im.height").alias("height"),
    )
    cats = raw.select(F.explode("categories").alias("c")).select(
        F.col("c.id").alias("category_id"),
        F.col("c.name").alias("class_name"),
    )
    anns = raw.select(F.explode("annotations").alias("a")).select(
        F.col("a.id").alias("ann_id"),
        F.col("a.image_id").alias("image_id"),
        F.col("a.category_id").alias("category_id"),
        F.col("a.bbox")[0].alias("bbox_x"),
        F.col("a.bbox")[1].alias("bbox_y"),
        F.col("a.bbox")[2].alias("bbox_w"),
        F.col("a.bbox")[3].alias("bbox_h"),
        F.col("a.segmentation").alias("segmentation"),
    )
    out = (
        anns.join(F.broadcast(images), "image_id")
        .join(F.broadcast(cats), "category_id")
    )
    if classes:
        out = out.filter(F.col("class_name").isin(*classes))
    return out


_VOC_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("class_name", T.StringType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ]
)


def read_pascal_voc(spark: SparkSession, xml_dir: str) -> DataFrame:
    """PascalVOC XML dir → one row per <object> bbox. XML text is read
    distributed (wholetext) and parsed with stdlib ElementTree in
    mapInPandas batches."""
    import pandas as pd

    files = spark.read.text(f"{xml_dir}/*.xml", wholetext=True)

    def parse(iterator):
        import xml.etree.ElementTree as ET

        for pdf in iterator:
            rows = []
            for xml_text in pdf["value"]:
                try:
                    root = ET.fromstring(xml_text)
                except ET.ParseError:
                    continue
                fname = root.findtext("filename", "")
                size = root.find("size")
                w = int(size.findtext("width", "0")) if size is not None else 0
                h = int(size.findtext("height", "0")) if size is not None else 0
                for obj in root.findall("object"):
                    bb = obj.find("bndbox")
                    if bb is None:
                        continue
                    rows.append(
                        (
                            fname, w, h, obj.findtext("name", ""),
                            float(bb.findtext("xmin", "0")),
                            float(bb.findtext("ymin", "0")),
                            float(bb.findtext("xmax", "0")),
                            float(bb.findtext("ymax", "0")),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in _VOC_SCHEMA.fields])

    return files.mapInPandas(parse, _VOC_SCHEMA)


def voc_bbox_to_yolo(df: DataFrame) -> DataFrame:
    """Corner box → YOLO center format (convert_xml_bbox_to_yolo,
    georip/modeling/yolo/conversion.py:76-106): normalized cx, cy, w,
    h rounded to 6."""
    w = F.col("xmax") - F.col("xmin")
    h = F.col("ymax") - F.col("ymin")
    return df.select(
        "filename", "class_name",
        F.round((F.col("xmin") + w / 2) / F.col("width"), 6).alias("cx"),
        F.round((F.col("ymin") + h / 2) / F.col("height"), 6).alias("cy"),
        F.round(w / F.col("width"), 6).alias("w"),
        F.round(h / F.col("height"), 6).alias("h"),
    )


def yolo_label_lines(labels: DataFrame) -> DataFrame:
    """Compiled label rows → (filename, content): per-image label-file
    text, lines ordered by (class_id, label); Background rows
    (class_id < 0) contribute NO lines — an image with only Background
    rows yields content='' (the reference writes an empty file and
    never a background line, georip/modeling/yolo/__init__.py:543-575).

    Shape: one filter + one groupBy over the labeled subset, then the
    Background-only files come back via aggregating the FULL filename
    list in the same pass (no second shuffle: both aggregates group on
    filename, Catalyst plans them as one exchange)."""
    per_file = labels.groupBy("filename").agg(
        F.concat_ws(
            "\n",
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("class_id") >= 0, F.struct("class_id", "label")
                    )
                )
            )["label"],
        ).alias("content"),
    )
    return per_file.select("filename", "content")


def write_yolo_labels(labels: DataFrame, out_dir: str) -> None:
    """Sink: one (filename, content) row per image, written as a
    parquet table (a real per-file layout would use foreachPartition
    writers on a cluster filesystem)."""
    yolo_label_lines(labels).write.mode("overwrite").parquet(out_dir)


def write_yaml_manifest(path: str, class_map: dict[str, int], splits: dict[str, str]) -> None:
    """data.yaml manifest (driver-side small file; S13)."""
    names = {v: k for k, v in sorted(class_map.items(), key=lambda kv: kv[1]) if v >= 0}
    lines = [f"{k}: {v}" for k, v in splits.items()]
    lines.append(f"nc: {len(names)}")
    lines.append("names:")
    for i in sorted(names):
        lines.append(f"  {i}: {names[i]}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
