package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.graft.GraftShim
import org.apache.spark.sql.{Column, SparkSession}

/**
 * The ST_ function catalog: SQL registration + Column DSL.
 *
 * Capability match for the reference's registrator
 * (reference: extension/.../SedonaIcebergExtensions.scala:38 registers the
 * Sedona catalog on session init); here the catalog is a plain
 * name→builder map usable both from SparkSessionExtensions (injectFunction)
 * and post-hoc on a live session.
 */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def arity(n: Int, name: String)(f: Seq[Expression] => Expression): Builder =
    es => {
      require(es.length == n, s"$name expects $n arguments, got ${es.length}")
      f(es)
    }

  /** Force-dimension function taking (geom[, value]) with value defaulting
    * to 0.0 (the PostGIS/Sedona convention). */
  private def withOptDefault(name: String,
      build: (Expression, Expression) => Expression): Builder =
    es => {
      require(es.length == 1 || es.length == 2, s"$name expects 1 or 2 arguments, got ${es.length}")
      build(es.head, if (es.length == 2) es(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(0.0))
    }

  /** Constructor taking one payload arg plus the Sedona/PostGIS optional
    * trailing SRID (wrapped as st_setsrid). */
  private def withOptSrid(name: String, build: Seq[Expression] => Expression): Builder =
    es => {
      require(es.length == 1 || es.length == 2, s"$name expects 1 or 2 arguments, got ${es.length}")
      if (es.length == 2) StSetSrid(build(es.take(1)), es(1)) else build(es)
    }

  /** name → builder for every scalar + aggregate ST_ function. */
  val catalog: Seq[(String, Builder)] = Seq[(String, Int, Seq[Expression] => Expression)](
    // constructors
    ("st_point", 2, es => StPoint(es(0), es(1))),
    ("st_polygonfromenvelope", 4, es => StPolygonFromEnvelope(es)),
    ("st_makeenvelope", 4, es => StPolygonFromEnvelope(es)),
    ("st_geomfromgeojson", 1, es => StGeomFromGeoJson(es.head)),
    // output
    ("st_asgeojson", 1, es => StAsGeoJson(es.head)),
    ("st_asbinary", 1, es => StAsBinary(es.head)),
    // accessors & measures
    ("st_x", 1, es => StX(es.head)),
    ("st_y", 1, es => StY(es.head)),
    ("st_xmin", 1, es => StXMin(es.head)),
    ("st_ymin", 1, es => StYMin(es.head)),
    ("st_xmax", 1, es => StXMax(es.head)),
    ("st_ymax", 1, es => StYMax(es.head)),
    ("st_area", 1, es => StArea(es.head)),
    ("st_length", 1, es => StLength(es.head)),
    ("st_perimeter", 1, es => StLength(es.head)),
    ("st_distance", 2, es => StDistance(es(0), es(1))),
    ("st_centroid", 1, es => StCentroid(es.head)),
    ("st_envelope", 1, es => StEnvelope(es.head)),
    ("st_boundary", 1, es => StBoundary(es.head)),
    ("st_geometrytype", 1, es => StGeometryType(es.head)),
    ("st_numpoints", 1, es => StNumPoints(es.head)),
    ("st_numgeometries", 1, es => StNumGeometries(es.head)),
    ("st_isempty", 1, es => StIsEmpty(es.head)),
    ("st_isvalid", 1, es => StIsValid(es.head)),
    ("st_srid", 1, es => StSrid(es.head)),
    ("st_setsrid", 2, es => StSetSrid(es(0), es(1))),
    ("st_normalize", 1, es => StNormalize(es.head)),
    // predicates
    ("st_contains", 2, es => StContains(es(0), es(1))),
    ("st_within", 2, es => StWithin(es(0), es(1))),
    ("st_intersects", 2, es => StIntersects(es(0), es(1))),
    ("st_disjoint", 2, es => StDisjoint(es(0), es(1))),
    ("st_covers", 2, es => StCovers(es(0), es(1))),
    ("st_coveredby", 2, es => StCoveredBy(es(0), es(1))),
    ("st_crosses", 2, es => StCrosses(es(0), es(1))),
    ("st_overlaps", 2, es => StOverlaps(es(0), es(1))),
    ("st_touches", 2, es => StTouches(es(0), es(1))),
    ("st_equals", 2, es => StEquals(es(0), es(1))),
    ("st_orderingequals", 2, es => StOrderingEquals(es(0), es(1))),
    ("st_dwithin", 3, es => StDWithin(es)),
    // transforms
    ("st_intersection", 2, es => StIntersection(es(0), es(1))),
    ("st_difference", 2, es => StDifference(es(0), es(1))),
    ("st_symdifference", 2, es => StSymDifference(es(0), es(1))),
    ("st_buffer", 2, es => StBuffer(es(0), es(1))),
    ("st_convexhull", 1, es => StConvexHull(es.head)),
    ("st_dimension", 1, es => StDimension(es.head)),
    ("st_geometryn", 2, es => StGeometryN(es(0), es(1))),
    ("st_pointn", 2, es => StPointN(es(0), es(1))),
    ("st_startpoint", 1, es => StStartPoint(es.head)),
    ("st_endpoint", 1, es => StEndPoint(es.head)),
    ("st_exteriorring", 1, es => StExteriorRing(es.head)),
    ("st_numinteriorrings", 1, es => StNumInteriorRings(es.head)),
    ("st_reverse", 1, es => StReverse(es.head)),
    ("st_flipcoordinates", 1, es => StFlipCoordinates(es.head)),
    ("st_closestpoint", 2, es => StClosestPoint(es(0), es(1))),
    ("st_azimuth", 2, es => StAzimuth(es(0), es(1))),
    ("st_simplify", 2, es => StSimplify(es(0), es(1))),
    ("st_simplifypreservetopology", 2, es => StSimplifyPreserveTopology(es(0), es(1))),
    ("st_makevalid", 1, es => StMakeValid(es.head)),
    ("st_transform", 3, es => StTransform(es)),
    // catalog breadth tier 2 (StMoreExpressions)
    ("st_geohash", 2, es => StGeoHash(es)),
    ("st_pointfromgeohash", 1, es => StPointFromGeoHash(es.head)),
    ("st_lineinterpolatepoint", 2, es => StLineInterpolatePoint(es(0), es(1))),
    ("st_linesubstring", 3, es => StLineSubstring(es)),
    ("st_linelocatepoint", 2, es => StLineLocatePoint(es(0), es(1))),
    ("st_linemerge", 1, es => StLineMerge(es.head)),
    ("st_rotate", 2, es => StRotate(es(0), es(1))),
    ("st_scale", 3, es => StScale(es)),
    ("st_affine", 7, es => StAffine(es)),
    ("st_issimple", 1, es => StIsSimple(es.head)),
    ("st_isring", 1, es => StIsRing(es.head)),
    ("st_pointonsurface", 1, es => StPointOnSurface(es.head)),
    ("st_minimumboundingcircle", 1, es => StMinimumBoundingCircle(es.head)),
    ("st_minimumboundingradius", 1, es => StMinimumBoundingRadius(es.head)),
    ("st_concavehull", 2, es => StConcaveHull(es(0), es(1))),
    ("st_reduceprecision", 2, es => StReducePrecision(es(0), es(1))),
    ("st_snap", 3, es => StSnap(es)),
    ("st_boundingdiagonal", 1, es => StBoundingDiagonal(es.head)),
    ("st_hausdorffdistance", 2, es => StHausdorffDistance(es(0), es(1))),
    ("st_frechetdistance", 2, es => StFrechetDistance(es(0), es(1))),
    ("st_angle", 3, es => StAngle(es)),
    ("st_dump", 1, es => StDump(es.head)),
    ("st_dumppoints", 1, es => StDumpPoints(es.head)),
    ("st_multi", 1, es => StMulti(es.head)),
    ("st_force2d", 1, es => StForce2D(es.head)),
    ("st_asewkt", 1, es => StAsEwkt(es.head)),
    ("st_removepoint", 2, es => StRemovePoint(es(0), es(1))),
    ("st_interiorringn", 2, es => StInteriorRingN(es(0), es(1))),
    ("st_collectionextract", 2, es => StCollectionExtract(es(0), es(1))),
    ("st_npoints", 1, es => StNumPoints(es.head)),
    // tiling primitives (spatial join / pushdown support)
    ("st_bbox", 1, es => StBbox(es.head)),
    ("st_centroid_cell", 2, es => StCentroidCell(es(0), es(1))),
    ("st_morton_cell", 2, es => StMortonCell(es(0), es(1))),
    // planar hex grid (H3-style usage shape; see Hex decision note)
    ("st_hexcell", 2, es => StHexCell(es(0), es(1))),
    ("st_hexcenter", 2, es => StHexCenter(es(0), es(1))),
    ("st_hexring", 2, es => StHexRing(es(0), es(1))),
    ("st_hexdist", 2, es => StHexDist(es(0), es(1))),
    // vector / sketch primitives (LLM-pipeline ops)
    ("vec_dot", 2, es => VecDot(es(0), es(1))),
    ("vec_norm", 1, es => VecNorm(es.head)),
    ("vec_cosine", 2, es => VecCosine(es(0), es(1))),
    ("minhash_sig", 2, es => MinHashSig(es(0), es(1))),
    ("simhash64", 1, es => SimHash64(es.head)),
    ("simhash16", 1, es => PortableSimHash16(es.head)),
    ("word_ngram_hashes", 2, es => WordNgramHashes(es(0), es(1))),
    ("char_ngram_hashes", 2, es => CharNgramHashes(es(0), es(1))),
    ("hyperplane_sig", 2, es => HyperplaneSig(es(0), es(1))),
    ("banded_hyperplane_sig", 3, es => BandedHyperplaneSig(es(0), es(1), es(2))),
    // catalog breadth tier 3 (StTier3Expressions)
    ("st_relate", 2, es => StRelate(es(0), es(1))),
    ("st_relatematch", 2, es => StRelateMatch(es(0), es(1))),
    ("st_isvalidreason", 1, es => StIsValidReason(es.head)),
    ("st_minimumclearance", 1, es => StMinimumClearance(es.head)),
    ("st_minimumclearanceline", 1, es => StMinimumClearanceLine(es.head)),
    ("st_largestemptycircle", 2, es => StLargestEmptyCircle(es(0), es(1))),
    ("st_sharedpaths", 2, es => StSharedPaths(es(0), es(1))),
    ("st_polygonize", 1, es => StPolygonize(es.head)),
    ("st_buildarea", 1, es => StBuildArea(es.head)),
    ("st_node", 1, es => StNode(es.head)),
    ("st_unaryunion", 1, es => StUnaryUnion(es.head)),
    ("st_shortestline", 2, es => StShortestLine(es(0), es(1))),
    ("st_longestline", 2, es => StLongestLine(es(0), es(1))),
    ("st_maxdistance", 2, es => StMaxDistance(es(0), es(1))),
    ("st_segmentize", 2, es => StSegmentize(es(0), es(1))),
    ("st_offsetcurve", 2, es => StOffsetCurve(es(0), es(1))),
    ("st_simplifyvw", 2, es => StSimplifyVW(es(0), es(1))),
    ("st_triangulatepolygon", 1, es => StTriangulatePolygon(es.head)),
    ("st_maximuminscribedcircle", 1, es => StMaximumInscribedCircleCenter(es.head)),
    ("st_maximuminscribedradius", 1, es => StMaximumInscribedRadius(es.head)),
    ("st_split", 2, es => StSplit(es(0), es(1))),
    ("st_subdivide", 2, es => StSubdivide(es(0), es(1))),
    ("st_generatepoints", 3, es => StGeneratePoints(es)),
    ("st_points", 1, es => StPoints(es.head)),
    ("st_bufferstyle", 3, es => StBufferStyle(es)),
    ("st_z", 1, es => StZ(es.head)),
    ("st_hasz", 1, es => StHasZ(es.head)),
    ("st_zmin", 1, es => StZMin(es.head)),
    ("st_zmax", 1, es => StZMax(es.head)),
    ("st_ndims", 1, es => StNDims(es.head)),
    ("st_zmflag", 1, es => StZmflag(es.head)),
    ("st_makepointz", 3, es => StMakePointZ(es)),
    ("st_3ddistance", 2, es => St3DDistance(es(0), es(1))),
    // catalog breadth tier 4 (StTier4Expressions)
    ("st_lengthsphere", 1, es => StLengthSphere(es.head)),
    ("st_areasphere", 1, es => StAreaSphere(es.head)),
    ("st_project", 3, es => StProject(es)),
    ("st_geomfromewkt", 1, es => StGeomFromEwkt(es.head)),
    ("st_pointfromtext", 1, es => StGeomFromTextTyped(es.head, "Point", "st_pointfromtext")),
    ("st_linefromtext", 1, es => StGeomFromTextTyped(es.head, "LineString", "st_linefromtext")),
    ("st_polygonfromtext", 1, es => StGeomFromTextTyped(es.head, "Polygon", "st_polygonfromtext")),
    ("st_polyfromtext", 1, es => StGeomFromTextTyped(es.head, "Polygon", "st_polyfromtext")),
    ("st_mpointfromtext", 1, es => StGeomFromTextTyped(es.head, "MultiPoint", "st_mpointfromtext")),
    ("st_mlinefromtext", 1, es => StGeomFromTextTyped(es.head, "MultiLineString", "st_mlinefromtext")),
    ("st_mpolyfromtext", 1, es => StGeomFromTextTyped(es.head, "MultiPolygon", "st_mpolyfromtext")),
    ("st_geomcollfromtext", 1, es => StGeomFromTextTyped(es.head, "GeometryCollection", "st_geomcollfromtext")),
    ("st_geometricmedian", 1, es => StGeometricMedian(es.head)),
    ("st_askml", 1, es => StAsKml(es.head)),
    ("st_asgml", 1, es => StAsGml(es.head)),
    ("st_geomfromkml", 1, es => StGeomFromXml(es.head, "st_geomfromkml")),
    ("st_geomfromgml", 1, es => StGeomFromXml(es.head, "st_geomfromgml")),
    ("st_linefrommultipoint", 1, es => StLineFromMultiPoint(es.head)),
    ("st_distancespheroid", 2, es => StDistanceSpheroid(es(0), es(1))),
    // catalog breadth tier 6 (StTier6Expressions)
    ("st_lengthspheroid", 1, es => StLengthSpheroid(es.head)),
    ("st_areaspheroid", 1, es => StAreaSpheroid(es.head)),
    ("st_isvaliddetail", 1, es => StIsValidDetail(es.head)),
    ("st_3dlineinterpolatepoint", 2, es => St3DLineInterpolatePoint(es(0), es(1))),
    ("st_linesegments", 1, es => StLineSegments(es.head)),
    ("st_s2cellids", 2, es => StS2CellIds(es(0), es(1))),
    ("st_s2togeom", 1, es => StS2ToGeom(es.head)),
    ("st_shiftlongitude", 1, es => StShiftLongitude(es.head)),
    ("st_setpoint", 3, es => StSetPoint(es)),
    // Sedona-name aliases of core measures / ops (2-D is already the
    // planar default; st_precisionreduce is the pre-rename name)
    ("st_length2d", 1, es => StLength(es.head)),
    ("st_perimeter2d", 1, es => StLength(es.head)),
    ("st_precisionreduce", 2, es => StReducePrecision(es(0), es(1))),
    // catalog breadth tier 5 (StTier5Expressions): M measures, linear
    // referencing, ring orientation, PostGIS parity odds-and-ends
    ("st_m", 1, es => StM(es.head)),
    ("st_hasm", 1, es => StHasM(es.head)),
    ("st_mmin", 1, es => StMMin(es.head)),
    ("st_mmax", 1, es => StMMax(es.head)),
    ("st_makepointm", 3, es => StMakePointM(es)),
    ("st_pointm", 3, es => StMakePointM(es)),
    ("st_pointz", 3, es => StMakePointZ(es)),
    ("st_pointzm", 4, es => StPointZM(es)),
    ("st_force4d", 3, es => StForce4D(es)),
    ("st_addmeasure", 3, es => StAddMeasure(es)),
    ("st_locatealong", 2, es => StLocateAlong(es(0), es(1))),
    ("st_interpolatepoint", 2, es => StInterpolatePoint(es(0), es(1))),
    ("st_ispolygoncw", 1, es => StIsPolygonCW(es.head)),
    ("st_ispolygonccw", 1, es => StIsPolygonCCW(es.head)),
    ("st_forcepolygoncw", 1, es => StForcePolygonCW(es.head)),
    ("st_forcepolygonccw", 1, es => StForcePolygonCCW(es.head)),
    ("st_forcerhr", 1, es => StForcePolygonCW(es.head)),
    ("st_iscollection", 1, es => StIsCollection(es.head)),
    ("st_nrings", 1, es => StNRings(es.head)),
    ("st_crossesdateline", 1, es => StCrossesDateLine(es.head)),
    ("st_bestsrid", 1, es => StBestSrid(es.head)),
    ("st_rotatex", 2, es => StRotateX(es(0), es(1))),
    ("st_rotatey", 2, es => StRotateY(es(0), es(1))),
    ("st_polygon", 2, es => StPolygonFromLine(es(0), es(1))),
    ("st_coorddim", 1, es => StNDims(es.head)),
    ("st_numinteriorring", 1, es => StNumInteriorRings(es.head)),
    ("st_asewkb", 1, es => StAsEwkb(es.head)),
    ("st_isclosed", 1, es => StIsClosed(es.head)),
    ("st_ashexewkb", 1, es => StAsHexEwkb(es.head)),
    ("st_force_2d", 1, es => StForce2D(es.head)),
    ("st_degrees", 1, es => org.apache.spark.sql.catalyst.expressions.ToDegrees(es.head)),
    ("st_radians", 1, es => org.apache.spark.sql.catalyst.expressions.ToRadians(es.head)),
    // aggregates (analyzer wraps the returned AggregateFunction)
    ("st_union_aggr", 1, es => StUnionAggr(es.head)),
    ("st_intersection_aggr", 1, es => StIntersectionAggr(es.head)),
    ("st_envelope_aggr", 1, es => StEnvelopeAggr(es.head)),
    ("st_centroid_aggr", 1, es => StCentroidAggr(es.head)),
  ).map { case (name, n, f) => name -> arity(n, name)(f) } :+
    ("st_tile_cells" -> { (es: Seq[Expression]) =>
      require(es.length == 2 || es.length == 3, s"st_tile_cells expects 2 or 3 arguments, got ${es.length}")
      StTileCells(es)
    }) :+
    ("st_makeline" -> { (es: Seq[Expression]) =>
      // 1 arg = PostGIS array form (array<geometry>); 2+ = variadic points
      require(es.nonEmpty, "st_makeline expects at least 1 argument")
      if (es.length == 1) StMakeLineArray(es.head) else StMakeLine(es)
    }) :+
    ("st_delaunaytriangles" -> { (es: Seq[Expression]) =>
      require(es.length == 1 || es.length == 2, s"st_delaunaytriangles expects 1 or 2 arguments, got ${es.length}")
      StDelaunayTriangles(es)
    }) :+
    ("st_voronoipolygons" -> { (es: Seq[Expression]) =>
      require(es.length == 1 || es.length == 2, s"st_voronoipolygons expects 1 or 2 arguments, got ${es.length}")
      StVoronoiPolygons(es)
    }) :+
    ("st_addpoint" -> { (es: Seq[Expression]) =>
      require(es.length == 2 || es.length == 3, s"st_addpoint expects 2 or 3 arguments, got ${es.length}")
      StAddPoint(es)
    }) :+
    ("st_makepolygon" -> { (es: Seq[Expression]) =>
      require(es.length == 1 || es.length == 2, s"st_makepolygon expects 1 or 2 arguments, got ${es.length}")
      StMakePolygon(es)
    }) :+
    ("st_distancesphere" -> { (es: Seq[Expression]) =>
      require(es.length == 2 || es.length == 3, s"st_distancesphere expects 2 or 3 arguments, got ${es.length}")
      StDistanceSphere(es)
    }) :+
    ("st_makepoint" -> { (es: Seq[Expression]) =>
      // PostGIS variadic: (x, y) | (x, y, z) | (x, y, z, m)
      es.length match {
        case 2 => StPoint(es(0), es(1))
        case 3 => StMakePointZ(es)
        case 4 => StPointZM(es)
        case n => throw new IllegalArgumentException(s"st_makepoint expects 2-4 arguments, got $n")
      }
    }) :+
    // WKT/WKB constructors with the Sedona optional-srid second argument
    ("st_geomfromtext" -> withOptSrid("st_geomfromtext", es => StGeomFromText(es.head))) :+
    ("st_geomfromwkt" -> withOptSrid("st_geomfromwkt", es => StGeomFromText(es.head))) :+
    ("st_geomfromwkb" -> withOptSrid("st_geomfromwkb", es => StGeomFromWKB(es.head))) :+
    ("st_geomfromewkb" -> withOptSrid("st_geomfromewkb", es => StGeomFromWKB(es.head))) :+
    ("st_pointfromwkb" -> withOptSrid("st_pointfromwkb",
      es => StGeomFromWkbTyped(StGeomFromWKB(es.head), "Point", "st_pointfromwkb"))) :+
    ("st_linefromwkb" -> withOptSrid("st_linefromwkb",
      es => StGeomFromWkbTyped(StGeomFromWKB(es.head), "LineString", "st_linefromwkb"))) :+
    ("st_linestringfromwkb" -> withOptSrid("st_linestringfromwkb",
      es => StGeomFromWkbTyped(StGeomFromWKB(es.head), "LineString", "st_linestringfromwkb"))) :+
    ("st_geomfromgeohash" -> { (es: Seq[Expression]) => StGeomFromGeoHash(es) }) :+
    ("st_labelpoint" -> { (es: Seq[Expression]) => StLabelPoint(es) }) :+
    ("st_translate" -> { (es: Seq[Expression]) => StTranslate(es) }) :+
    ("st_force3d" -> withOptDefault("st_force3d", (g, v) => StForce3D(g, v))) :+
    ("st_forcez" -> withOptDefault("st_forcez", (g, v) => StForce3D(g, v))) :+
    ("st_force3dz" -> withOptDefault("st_force3dz", (g, v) => StForce3D(g, v))) :+
    ("st_force3dm" -> withOptDefault("st_force3dm", (g, v) => StForce3DM(g, v))) :+
    ("st_collect" -> { (es: Seq[Expression]) =>
      // 1 arg = aggregate collect; 2 args = PostGIS scalar pair collect
      es.length match {
        case 1 => StCollectAggr(es.head)
        case 2 => StCollectTwo(es(0), es(1))
        case n => throw new IllegalArgumentException(s"st_collect expects 1 or 2 arguments, got $n")
      }
    }) :+
    ("st_expand" -> { (es: Seq[Expression]) => StExpand(es) }) :+
    ("st_astext" -> { (es: Seq[Expression]) =>
      // 2-arg = PostGIS maxdecimaldigits formatting
      es.length match {
        case 1 => StAsText(es.head)
        case 2 => StAsTextPrec(es(0), es(1))
        case n => throw new IllegalArgumentException(s"st_astext expects 1 or 2 arguments, got $n")
      }
    }) :+
    ("st_union" -> { (es: Seq[Expression]) =>
      // 1 arg = array form (n-way union); 2 = classic binary union
      es.length match {
        case 1 => StUnionArray(es.head)
        case 2 => StUnion(es(0), es(1))
        case n => throw new IllegalArgumentException(s"st_union expects 1 or 2 arguments, got $n")
      }
    }) :+
    ("st_removerepeatedpoints" -> { (es: Seq[Expression]) =>
      require(es.length == 1 || es.length == 2,
        s"st_removerepeatedpoints expects 1 or 2 arguments, got ${es.length}")
      StRemoveRepeatedPoints(es)
    }) :+
    ("st_simplifypolygonhull" -> { (es: Seq[Expression]) =>
      require(es.length == 2 || es.length == 3,
        s"st_simplifypolygonhull expects 2 or 3 arguments, got ${es.length}")
      StSimplifyPolygonHull(es)
    })

  /** `DESCRIBE FUNCTION` usage text (subset with non-obvious semantics;
    * the rest get a generated one-liner). */
  private val usageDocs: Map[String, String] = Map(
    "st_point" -> "st_point(x, y) - Returns a WKB point from coordinates.",
    "st_polygonfromenvelope" -> "st_polygonfromenvelope(xmin, ymin, xmax, ymax) - Axis-aligned rectangle polygon.",
    "st_geomfromtext" -> "st_geomfromtext(wkt) - Parses WKT text into a WKB geometry.",
    "st_geomfromwkb" -> "st_geomfromwkb(bytes) - Normalizes WKB/EWKB bytes into graft's canonical form.",
    "st_asbinary" -> "st_asbinary(geom) - ISO WKB bytes (no EWKB SRID flag) for interop.",
    "st_contains" -> "st_contains(a, b) - True when b lies in the interior+boundary of a and interiors touch (boundary-only points excluded).",
    "st_dwithin" -> "st_dwithin(a, b, dist) - True when geometries are within euclidean distance dist.",
    "st_tile_cells" -> "st_tile_cells(geom, cellSize[, expand]) - Grid cells covering the (expanded) envelope; packed (ix<<32|iy) longs.",
    "st_bbox" -> "st_bbox(geom) - struct(xmin, ymin, xmax, ymax) of the envelope.",
    "st_morton_cell" -> "st_morton_cell(geom, cellSize) - Z-order (Morton) index of the envelope center; sort by it to cluster spatially.",
    "st_hexcell" -> "st_hexcell(geom, size) - Planar hex-grid cell id (axial q,r packed in a long) of the centroid; size = hex circumradius.",
    "st_hexcenter" -> "st_hexcenter(cellId, size) - Center point of a hex cell.",
    "st_hexring" -> "st_hexring(cellId, k) - All cell ids within hex distance k (kRing disk), sorted.",
    "st_hexdist" -> "st_hexdist(cellA, cellB) - Hex grid distance between two cells.",
    "st_makeline" -> "st_makeline(pt1, pt2, ...) - LINESTRING through the given points.",
    "vec_cosine" -> "vec_cosine(a, b) - Cosine similarity of numeric arrays (0 when either norm is 0).",
    "minhash_sig" -> "minhash_sig(shingleHashes, k) - k-minima MinHash signature (deterministic seeds).",
    "simhash64" -> "simhash64(tokenHashes64) - 64-bit SimHash of xxhash64 token hashes.",
    "simhash16" -> "simhash16(text) - Portable 16-bit SimHash over whitespace tokens (engine-replicable polynomial hash).",
    "word_ngram_hashes" -> "word_ngram_hashes(text, n) - Distinct xxhash64 fingerprints of the word n-grams (fused decontamination primitive).",
    "char_ngram_hashes" -> "char_ngram_hashes(text, k) - Distinct murmur3 hashes of char k-gram shingles (fused MinHash primitive).",
    "hyperplane_sig" -> "hyperplane_sig(vec, nbits) - Random-hyperplane LSH bucket (nbits <= 64).",
    "banded_hyperplane_sig" -> "banded_hyperplane_sig(vec, bitsPerBand, bands) - Per-band LSH sub-signatures; candidates when ANY band matches.",
    "st_transform" -> "st_transform(geom, 'EPSG:4326', 'EPSG:3857') - Closed-form reprojection (4326 / 3857 / UTM 326zz,327zz).",
    "st_makevalid" -> "st_makevalid(geom) - Repairs invalid geometry (JTS GeometryFixer); valid input unchanged.",
    "st_geomfromgeojson" -> "st_geomfromgeojson(json) - Parses GeoJSON geometry text into WKB.",
    "st_geohash" -> "st_geohash(geom, precision) - Base32 geohash of the centroid (x=lon, y=lat), 1..20 chars.",
    "st_lineinterpolatepoint" -> "st_lineinterpolatepoint(line, f) - Point at fraction f (0..1, clamped) of the line's length.",
    "st_linesubstring" -> "st_linesubstring(line, f0, f1) - Sub-line between length fractions f0 <= f1.",
    "st_linelocatepoint" -> "st_linelocatepoint(line, pt) - Length fraction of the line nearest to pt.",
    "st_affine" -> "st_affine(g, a, b, d, e, xoff, yoff) - x'=ax+by+xoff, y'=dx+ey+yoff (PostGIS 2-D order).",
    "st_interiorringn" -> "st_interiorringn(poly, n) - nth interior ring, 1-based; NULL out of range.",
    "st_collectionextract" -> "st_collectionextract(geom, dim) - Members of dimension dim (1 pt, 2 line, 3 poly) as Multi*.",
    "st_concavehull" -> "st_concavehull(geom, lengthRatio) - JTS concave hull; ratio 1.0 = convex hull.",
    "st_intersection_aggr" -> "st_intersection_aggr(geom) - Aggregate: n-way intersection (map-side partial folds).",
    "st_union_aggr" -> "st_union_aggr(geom) - Aggregate: n-way cascaded union (map-side partial unions).",
    "st_envelope_aggr" -> "st_envelope_aggr(geom) - Aggregate: bounding box of all inputs (fixed-size buffer).",
    "st_centroid_aggr" -> "st_centroid_aggr(geom) - Aggregate: centroid of the input collection (dimension-stratified).",
    "st_collect" -> "st_collect(geom) aggregate, or st_collect(g1, g2) scalar pair collect.",
    "st_distancesphere" -> "st_distancesphere(a, b[, radius]) - Haversine meters between centroids (x=lon, y=lat; default IUGG mean radius).",
    "st_lengthsphere" -> "st_lengthsphere(geom) - Sum of great-circle segment lengths (meters) over LineString components.",
    "st_areasphere" -> "st_areasphere(geom) - Approximate spherical polygon area, m^2 (Chamberlain-Duquette; holes subtract).",
    "st_project" -> "st_project(pt, dist, azimuth) - Planar projection: azimuth in radians clockwise from north (st_azimuth convention).",
    "st_geomfromewkt" -> "st_geomfromewkt('SRID=n;WKT') - Parses EWKT (plain WKT accepted); reader twin of st_asewkt.",
    "st_pointfromtext" -> "st_pointfromtext(wkt) - Parses WKT; NULL unless the result is a Point (PostGIS typed-constructor family).",
    "st_geometricmedian" -> "st_geometricmedian(geom) - Weiszfeld geometric median of the geometry's vertices.",
    "st_shiftlongitude" -> "st_shiftlongitude(geom) - Adds 360 to negative x coordinates ([-180,180) -> [0,360)).",
    "st_setpoint" -> "st_setpoint(line, idx, pt) - Replace vertex idx (0-based, negative from end); NULL out of range.",
    "st_makepoint" -> "st_makepoint(x, y[, z[, m]]) - Point with optional Z and M (PostGIS variadic form).",
    "st_addmeasure" -> "st_addmeasure(line, m0, m1) - Measures interpolated linearly by accumulated length.",
    "st_locatealong" -> "st_locatealong(geom, m) - MultiPoint of locations whose measure equals m (vertex hits + segment crossings).",
    "st_interpolatepoint" -> "st_interpolatepoint(line, pt) - Measure at the line location closest to pt; NULL without measures.",
    "st_ispolygoncw" -> "st_ispolygoncw(geom) - True when polygon shells are clockwise and holes counter-clockwise (vacuous without polygons).",
    "st_forcerhr" -> "st_forcerhr(geom) - Right-hand-rule ring orientation (shells CW, holes CCW); alias of st_forcepolygoncw.",
    "st_bestsrid" -> "st_bestsrid(geom) - Planar SRID by centroid: UTM zone (326zz/327zz), UPS 32661 above 84N / 32761 below 80S.",
    "st_crossesdateline" -> "st_crossesdateline(geom) - True when any segment spans more than 180 degrees of longitude.",
    "st_removerepeatedpoints" -> "st_removerepeatedpoints(geom[, tol]) - Drops consecutive vertices within tol (default exact dups); keeps ring/line validity.",
    "st_simplifypolygonhull" -> "st_simplifypolygonhull(geom, vertexFrac[, outer]) - Topology-safe hull with ~vertexFrac of the vertices (JTS PolygonHullSimplifier).",
    "st_rotatex" -> "st_rotatex(geom, theta) - Rotate about the X axis (radians); 2D input gets Z=0, output carries Z.",
    "st_asewkb" -> "st_asewkb(geom) - Canonical EWKB bytes (SRID flag); st_asbinary for ISO WKB.",
    "st_zmflag" -> "st_zmflag(geom) - PostGIS dimensionality flag: 0=2D, 1=3DM, 2=3DZ, 3=4D.")

  /** One-liners for the rest of the catalog (obvious signatures — kept
    * separate from the curated non-obvious set above). */
  private val usageDocsRest: Map[String, String] = Map(
    "st_3ddistance" -> "st_3ddistance(a, b) - Euclidean distance including Z (2D when either side has no Z).",
    "st_addpoint" -> "st_addpoint(line, pt[, idx]) - Insert a vertex at idx (default append).",
    "st_angle" -> "st_angle(p1, p2, p3) - Angle at p2 between rays to p1 and p3, radians.",
    "st_area" -> "st_area(geom) - Planar area.",
    "st_asewkt" -> "st_asewkt(geom) - EWKT text 'SRID=n;WKT'.",
    "st_asgeojson" -> "st_asgeojson(geom) - GeoJSON geometry text.",
    "st_asgml" -> "st_asgml(geom) - GML 2 geometry fragment.",
    "st_ashexewkb" -> "st_ashexewkb(geom) - Uppercase hex of the canonical EWKB bytes.",
    "st_askml" -> "st_askml(geom) - KML geometry fragment.",
    "st_astext" -> "st_astext(geom[, maxdecimaldigits]) - WKT text, optionally with bounded decimals.",
    "st_azimuth" -> "st_azimuth(a, b) - Bearing from a to b, radians clockwise from north.",
    "st_boundary" -> "st_boundary(geom) - Topological boundary (polygon -> rings, line -> endpoints).",
    "st_boundingdiagonal" -> "st_boundingdiagonal(geom) - Diagonal LineString of the envelope (min corner to max corner).",
    "st_buffer" -> "st_buffer(geom, dist) - Geometry of all points within dist (8 quadrant segments).",
    "st_bufferstyle" -> "st_bufferstyle(geom, dist, 'quad_segs=8 endcap=flat join=mitre side=left') - Parameterized buffer.",
    "st_buildarea" -> "st_buildarea(geom) - Polygons formed by the input's linework.",
    "st_centroid" -> "st_centroid(geom) - Geometric center of mass.",
    "st_centroid_cell" -> "st_centroid_cell(geom, cellSize) - Grid cell id (packed long) of the centroid.",
    "st_closestpoint" -> "st_closestpoint(a, b) - Point on a closest to b.",
    "st_convexhull" -> "st_convexhull(geom) - Convex hull.",
    "st_coorddim" -> "st_coorddim(geom) - Coordinate dimension: 2, 3 (Z or M), or 4 (ZM).",
    "st_coveredby" -> "st_coveredby(a, b) - True when no point of a is outside b.",
    "st_covers" -> "st_covers(a, b) - True when no point of b is outside a.",
    "st_crosses" -> "st_crosses(a, b) - True when interiors intersect in a lower dimension (DE-9IM crosses).",
    "st_degrees" -> "st_degrees(radians) - Radians to degrees (pairs with st_azimuth/st_angle).",
    "st_delaunaytriangles" -> "st_delaunaytriangles(geom[, tol]) - Delaunay triangulation of the vertices.",
    "st_difference" -> "st_difference(a, b) - Points of a not in b.",
    "st_dimension" -> "st_dimension(geom) - Topological dimension: 0 point, 1 line, 2 area.",
    "st_disjoint" -> "st_disjoint(a, b) - True when the geometries share no point.",
    "st_distance" -> "st_distance(a, b) - Minimum planar distance.",
    "st_distancespheroid" -> "st_distancespheroid(a, b) - Geodesic meters on the WGS84 ellipsoid between centroids.",
    "st_lengthspheroid" -> "st_lengthspheroid(geom) - Sum of geodesic segment lengths (meters, WGS84 ellipsoid) over LineString components.",
    "st_areaspheroid" -> "st_areaspheroid(geom) - Polygon area on the WGS84 ellipsoid, m^2 (lon-lat-linear edges; holes subtract).",
    "st_isvaliddetail" -> "st_isvaliddetail(geom) - Struct(valid, reason, location): JTS validity with the offending point.",
    "st_3dlineinterpolatepoint" -> "st_3dlineinterpolatepoint(line, f) - Point at fraction f of the 3-D length, Z interpolated.",
    "st_linesegments" -> "st_linesegments(geom) - Array of 2-point segments of a (multi)line; NULL for other inputs.",
    "st_geomfromgeohash" -> "st_geomfromgeohash(hash[, precision]) - Geohash cell bounds polygon (optionally truncated first).",
    "st_labelpoint" -> "st_labelpoint(poly[, gridResolution, goodnessThreshold]) - Label anchor inside the largest polygon: centroid when its clearance passes the threshold, else pole of inaccessibility.",
    "st_length2d" -> "st_length2d(geom) - Planar linework length (alias of st_length).",
    "st_perimeter2d" -> "st_perimeter2d(poly) - Boundary length (alias of st_perimeter).",
    "st_precisionreduce" -> "st_precisionreduce(geom, gridSize) - Snap coordinates to a precision grid (pre-rename alias of st_reduceprecision).",
    "st_linestringfromwkb" -> "st_linestringfromwkb(bytes[, srid]) - Parses WKB; NULL unless a LineString.",
    "st_s2cellids" -> "st_s2cellids(geom, level) - S2 cell ids (0..30) covering the geometry; points map to exactly one cell.",
    "st_s2togeom" -> "st_s2togeom(cells) - Corner-quad polygon per S2 cell id.",
    "st_dump" -> "st_dump(geom) - Array of the collection's component geometries.",
    "st_dumppoints" -> "st_dumppoints(geom) - Array of every vertex as a point.",
    "st_endpoint" -> "st_endpoint(line) - Last vertex of a LineString; NULL otherwise.",
    "st_envelope" -> "st_envelope(geom) - Axis-aligned bounding geometry.",
    "st_equals" -> "st_equals(a, b) - Topological equality (vertex order-insensitive).",
    "st_expand" -> "st_expand(geom, d) or st_expand(geom, dx, dy) - Envelope grown per axis.",
    "st_exteriorring" -> "st_exteriorring(poly) - Shell as a LineString; NULL for non-polygons.",
    "st_flipcoordinates" -> "st_flipcoordinates(geom) - Swap x and y on every vertex.",
    "st_force2d" -> "st_force2d(geom) - Drop Z/M from every vertex.",
    "st_force_2d" -> "st_force_2d(geom) - Alias of st_force2d.",
    "st_force3d" -> "st_force3d(geom[, z]) - Ensure Z on every vertex (default 0, existing Z kept).",
    "st_force3dm" -> "st_force3dm(geom[, m]) - Ensure a measure on every vertex (default 0, existing M kept).",
    "st_force4d" -> "st_force4d(geom, z, m) - Ensure both Z and M on every vertex.",
    "st_forcez" -> "st_forcez(geom[, z]) - Alias of st_force3d.",
    "st_force3dz" -> "st_force3dz(geom[, z]) - Alias of st_force3d (PostGIS naming).",
    "st_forcepolygonccw" -> "st_forcepolygonccw(geom) - Shells counter-clockwise, holes clockwise (OGC order).",
    "st_forcepolygoncw" -> "st_forcepolygoncw(geom) - Shells clockwise, holes counter-clockwise.",
    "st_frechetdistance" -> "st_frechetdistance(a, b) - Discrete Frechet distance (curve similarity).",
    "st_generatepoints" -> "st_generatepoints(poly, n, seed) - n deterministic points inside the polygon.",
    "st_geomcollfromtext" -> "st_geomcollfromtext(wkt) - Parses WKT; NULL unless a GeometryCollection.",
    "st_geometryn" -> "st_geometryn(geom, n) - nth component of a collection, 1-based.",
    "st_geometrytype" -> "st_geometrytype(geom) - Type name with ST_ prefix, e.g. 'ST_Polygon'.",
    "st_geomfromewkb" -> "st_geomfromewkb(bytes[, srid]) - Normalizes WKB/EWKB bytes; optional SRID override.",
    "st_geomfromgml" -> "st_geomfromgml(text) - Parses a GML 2/3 geometry fragment (reader twin of st_asgml).",
    "st_geomfromkml" -> "st_geomfromkml(text) - Parses a KML geometry fragment (reader twin of st_askml).",
    "st_geomfromwkt" -> "st_geomfromwkt(wkt[, srid]) - Parses WKT with an optional SRID.",
    "st_hasm" -> "st_hasm(geom) - True when vertices carry M measures.",
    "st_hasz" -> "st_hasz(geom) - True when vertices carry Z.",
    "st_hausdorffdistance" -> "st_hausdorffdistance(a, b) - Discrete Hausdorff distance (shape similarity).",
    "st_intersection" -> "st_intersection(a, b) - Shared points of a and b.",
    "st_largestemptycircle" -> "st_largestemptycircle(obstacles, tolerance) - Radius line (center -> nearest obstacle) of the largest circle avoiding the obstacles; center = st_startpoint, radius = st_length.",
    "st_sharedpaths" -> "st_sharedpaths(line1, line2) - GEOMETRYCOLLECTION(same-direction multiline, opposite-direction multiline) of linework shared by two lineal inputs.",
    "st_intersects" -> "st_intersects(a, b) - True when the geometries share any point.",
    "st_isclosed" -> "st_isclosed(geom) - Every LineString component closed; points/polygons count closed.",
    "st_iscollection" -> "st_iscollection(geom) - True for Multi*/GeometryCollection input.",
    "st_isempty" -> "st_isempty(geom) - True for empty geometry.",
    "st_ispolygonccw" -> "st_ispolygonccw(geom) - Shells counter-clockwise and holes clockwise?",
    "st_isring" -> "st_isring(line) - Closed AND simple?",
    "st_issimple" -> "st_issimple(geom) - No self-intersection/tangency?",
    "st_isvalid" -> "st_isvalid(geom) - OGC-valid?",
    "st_isvalidreason" -> "st_isvalidreason(geom) - Validity verdict with the failing location.",
    "st_length" -> "st_length(geom) - Total linework length.",
    "st_linefrommultipoint" -> "st_linefrommultipoint(mpoint) - LineString through the points in order.",
    "st_linefromtext" -> "st_linefromtext(wkt) - Parses WKT; NULL unless a LineString.",
    "st_linefromwkb" -> "st_linefromwkb(bytes[, srid]) - Parses WKB; NULL unless a LineString.",
    "st_linemerge" -> "st_linemerge(mline) - Stitches touching lines into maximal LineStrings.",
    "st_longestline" -> "st_longestline(a, b) - LineString between the farthest vertex pair.",
    "st_m" -> "st_m(point) - M measure of a point; NULL without measures.",
    "st_makeenvelope" -> "st_makeenvelope(xmin, ymin, xmax, ymax) - Axis-aligned rectangle polygon.",
    "st_makepointm" -> "st_makepointm(x, y, m) - 2D point with a measure (XYM).",
    "st_makepointz" -> "st_makepointz(x, y, z) - 3D point.",
    "st_makepolygon" -> "st_makepolygon(shell[, holesArray]) - Polygon from a closed LineString shell.",
    "st_maxdistance" -> "st_maxdistance(a, b) - Farthest vertex-pair distance.",
    "st_maximuminscribedcircle" -> "st_maximuminscribedcircle(geom) - Center of the largest inscribed circle.",
    "st_maximuminscribedradius" -> "st_maximuminscribedradius(geom) - Radius of the largest inscribed circle.",
    "st_minimumboundingcircle" -> "st_minimumboundingcircle(geom) - Smallest enclosing circle polygon.",
    "st_minimumboundingradius" -> "st_minimumboundingradius(geom) - Radius of the smallest enclosing circle.",
    "st_minimumclearance" -> "st_minimumclearance(geom) - Smallest vertex move that changes topology.",
    "st_minimumclearanceline" -> "st_minimumclearanceline(geom) - LineString realizing the minimum clearance.",
    "st_mlinefromtext" -> "st_mlinefromtext(wkt) - Parses WKT; NULL unless a MultiLineString.",
    "st_mmax" -> "st_mmax(geom) - Maximum M over all vertices; NULL without measures.",
    "st_mmin" -> "st_mmin(geom) - Minimum M over all vertices; NULL without measures.",
    "st_mpointfromtext" -> "st_mpointfromtext(wkt) - Parses WKT; NULL unless a MultiPoint.",
    "st_mpolyfromtext" -> "st_mpolyfromtext(wkt) - Parses WKT; NULL unless a MultiPolygon.",
    "st_multi" -> "st_multi(geom) - Wraps single geometry as its Multi* type.",
    "st_ndims" -> "st_ndims(geom) - Coordinate dimension: 2, 3 (Z or M), or 4 (ZM).",
    "st_node" -> "st_node(lines) - Nodes linework at every crossing.",
    "st_normalize" -> "st_normalize(geom) - Canonical vertex/component order.",
    "st_npoints" -> "st_npoints(geom) - Vertex count (alias of st_numpoints).",
    "st_nrings" -> "st_nrings(geom) - Total ring count over polygonal components.",
    "st_numgeometries" -> "st_numgeometries(geom) - Component count (1 for simple geometry).",
    "st_numinteriorring" -> "st_numinteriorring(poly) - Alias of st_numinteriorrings.",
    "st_numinteriorrings" -> "st_numinteriorrings(poly) - Hole count; NULL for non-polygons.",
    "st_numpoints" -> "st_numpoints(geom) - Vertex count.",
    "st_offsetcurve" -> "st_offsetcurve(line, d) - Line offset d to the left (negative = right).",
    "st_orderingequals" -> "st_orderingequals(a, b) - Exact equality including vertex order.",
    "st_overlaps" -> "st_overlaps(a, b) - Same-dimension partial overlap (DE-9IM overlaps).",
    "st_perimeter" -> "st_perimeter(poly) - Boundary length.",
    "st_pointfromgeohash" -> "st_pointfromgeohash(hash) - Center point of a geohash cell.",
    "st_pointfromwkb" -> "st_pointfromwkb(bytes[, srid]) - Parses WKB; NULL unless a Point.",
    "st_pointm" -> "st_pointm(x, y, m) - Alias of st_makepointm.",
    "st_pointn" -> "st_pointn(line, n) - nth vertex as a point, 1-based.",
    "st_pointonsurface" -> "st_pointonsurface(geom) - A point guaranteed on the geometry.",
    "st_points" -> "st_points(geom) - MultiPoint of every vertex.",
    "st_pointz" -> "st_pointz(x, y, z) - Alias of st_makepointz.",
    "st_pointzm" -> "st_pointzm(x, y, z, m) - Full 4D point.",
    "st_polyfromtext" -> "st_polyfromtext(wkt) - Parses WKT; NULL unless a Polygon.",
    "st_polygon" -> "st_polygon(line, srid) - Polygon from a closed LineString with the SRID applied.",
    "st_polygonfromtext" -> "st_polygonfromtext(wkt) - Parses WKT; NULL unless a Polygon.",
    "st_polygonize" -> "st_polygonize(lines) - Polygons formed by the noded linework.",
    "st_radians" -> "st_radians(degrees) - Degrees to radians.",
    "st_reduceprecision" -> "st_reduceprecision(geom, gridSize) - Snap coordinates to a precision grid (valid output).",
    "st_relate" -> "st_relate(a, b) - DE-9IM intersection matrix string.",
    "st_relatematch" -> "st_relatematch(matrix, pattern) - DE-9IM matrix vs pattern ('T*F**FFF*').",
    "st_removepoint" -> "st_removepoint(line, idx) - Remove vertex idx (0-based); NULL out of range.",
    "st_reverse" -> "st_reverse(geom) - Reverses vertex order.",
    "st_rotate" -> "st_rotate(geom, theta) - Rotate about the origin, radians counter-clockwise.",
    "st_rotatey" -> "st_rotatey(geom, theta) - Rotate about the Y axis (radians); 2D input gets Z=0.",
    "st_scale" -> "st_scale(geom, sx, sy) - Scale about the origin.",
    "st_segmentize" -> "st_segmentize(geom, maxLen) - Add vertices so no segment exceeds maxLen.",
    "st_setsrid" -> "st_setsrid(geom, srid) - Set the SRID tag (no reprojection).",
    "st_shortestline" -> "st_shortestline(a, b) - LineString realizing the minimum distance.",
    "st_simplify" -> "st_simplify(geom, tol) - Douglas-Peucker simplification.",
    "st_simplifypreservetopology" -> "st_simplifypreservetopology(geom, tol) - Simplification that never inverts topology.",
    "st_simplifyvw" -> "st_simplifyvw(geom, tol) - Visvalingam-Whyatt simplification (area-based).",
    "st_snap" -> "st_snap(geom, ref, tol) - Snap vertices to ref within tol.",
    "st_split" -> "st_split(geom, blade) - Split lines at points/crossings, polygons along a line blade.",
    "st_srid" -> "st_srid(geom) - SRID tag (4326 default).",
    "st_startpoint" -> "st_startpoint(line) - First vertex of a LineString; NULL otherwise.",
    "st_subdivide" -> "st_subdivide(geom, maxVertices) - Recursively split until every part fits maxVertices.",
    "st_symdifference" -> "st_symdifference(a, b) - Points in exactly one of a, b.",
    "st_touches" -> "st_touches(a, b) - Boundaries meet, interiors never do.",
    "st_translate" -> "st_translate(geom, dx, dy[, dz]) - Shift every vertex (dz applies to Z geometry).",
    "st_triangulatepolygon" -> "st_triangulatepolygon(poly) - Constrained triangulation of the polygon interior.",
    "st_unaryunion" -> "st_unaryunion(geom) - Union of a geometry's own components (dissolves overlaps).",
    "st_union" -> "st_union(a, b) or st_union(array) - Binary union, or n-way union of an array.",
    "st_voronoipolygons" -> "st_voronoipolygons(geom[, tol]) - Voronoi diagram of the vertices.",
    "st_within" -> "st_within(a, b) - True when a lies in b's interior+boundary with interior contact.",
    "st_x" -> "st_x(point) - X (NULL for non-points).",
    "st_xmax" -> "st_xmax(geom) - Envelope maximum X.",
    "st_xmin" -> "st_xmin(geom) - Envelope minimum X.",
    "st_y" -> "st_y(point) - Y (NULL for non-points).",
    "st_ymax" -> "st_ymax(geom) - Envelope maximum Y.",
    "st_ymin" -> "st_ymin(geom) - Envelope minimum Y.",
    "st_z" -> "st_z(point) - Z of a 3D point; NULL without Z.",
    "st_zmax" -> "st_zmax(geom) - Maximum Z over all vertices; NULL for 2D.",
    "st_zmin" -> "st_zmin(geom) - Minimum Z over all vertices; NULL for 2D.",
    "vec_dot" -> "vec_dot(a, b) - Dot product of numeric arrays.",
    "vec_norm" -> "vec_norm(a) - Euclidean norm of a numeric array.")

  private def usageFor(name: String): String =
    usageDocs.getOrElse(name, usageDocsRest.getOrElse(name,
      s"$name(...) - graft spatial/vector function; see README.md."))

  /** (name, usage) for every catalog function — docs/tooling surface. */
  def catalogDocs: Seq[(String, String)] = catalog.map { case (n, _) => n -> usageFor(n) }

  /** Idempotent: (re)binds every catalog function, optimizer rule and
    * planner strategy on the given session (post-hoc path;
    * GraftExtensions does the same at build time via
    * spark.sql.extensions). */
  def register(spark: SparkSession): Unit = {
    catalog.foreach { case (name, b) => GraftShim.registerFunction(spark, name, b, usageFor(name)) }
    GraftShim.installOptimizerRules(spark, Seq(
      graft.plans.GeoBboxPushdown(spark),
      graft.plans.SpatialJoinRewrite(spark)))
    GraftShim.installPlannerStrategies(spark, Seq(graft.plans.SpatialIndexJoinStrategy))
  }

  // -------------------------------------------------------------------------
  // Column DSL (works without SQL registration)
  // -------------------------------------------------------------------------
  private def e(c: Column): Expression = GraftShim.expression(c)
  private def col(x: Expression): Column = GraftShim.column(x)

  def st_point(x: Column, y: Column): Column = col(StPoint(e(x), e(y)))
  def st_polygonFromEnvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    col(StPolygonFromEnvelope(Seq(e(xmin), e(ymin), e(xmax), e(ymax))))
  def st_geomFromText(wkt: Column): Column = col(StGeomFromText(e(wkt)))
  def st_asText(g: Column): Column = col(StAsText(e(g)))
  def st_x(g: Column): Column = col(StX(e(g)))
  def st_y(g: Column): Column = col(StY(e(g)))
  def st_xmin(g: Column): Column = col(StXMin(e(g)))
  def st_ymin(g: Column): Column = col(StYMin(e(g)))
  def st_xmax(g: Column): Column = col(StXMax(e(g)))
  def st_ymax(g: Column): Column = col(StYMax(e(g)))
  def st_area(g: Column): Column = col(StArea(e(g)))
  def st_length(g: Column): Column = col(StLength(e(g)))
  def st_distance(a: Column, b: Column): Column = col(StDistance(e(a), e(b)))
  def st_centroid(g: Column): Column = col(StCentroid(e(g)))
  def st_envelope(g: Column): Column = col(StEnvelope(e(g)))
  def st_contains(a: Column, b: Column): Column = col(StContains(e(a), e(b)))
  def st_within(a: Column, b: Column): Column = col(StWithin(e(a), e(b)))
  def st_intersects(a: Column, b: Column): Column = col(StIntersects(e(a), e(b)))
  def st_dwithin(a: Column, b: Column, d: Column): Column = col(StDWithin(Seq(e(a), e(b), e(d))))
  def st_buffer(g: Column, d: Column): Column = col(StBuffer(e(g), e(d)))
  def st_transform(g: Column, src: Column, dst: Column): Column = col(StTransform(Seq(e(g), e(src), e(dst))))
  def st_makeValid(g: Column): Column = col(StMakeValid(e(g)))
  def st_geomFromGeoJson(j: Column): Column = col(StGeomFromGeoJson(e(j)))
  def wordNgramHashes(text: Column, n: Int): Column =
    col(WordNgramHashes(e(text), e(org.apache.spark.sql.functions.lit(n))))
  def st_union_aggr(g: Column): Column = agg(StUnionAggr(e(g)))
  def st_envelope_aggr(g: Column): Column = agg(StEnvelopeAggr(e(g)))
  def st_centroid_aggr(g: Column): Column = agg(StCentroidAggr(e(g)))
  def st_collect(g: Column): Column = agg(StCollectAggr(e(g)))

  private def agg(a: AggregateFunction): Column = col(a.toAggregateExpression())
}
