"""Geometry kernel: WKB columns + pure-Python computational geometry.

The environment has no shapely/GEOS and no JVM spatial package, so the
engine carries its own kernel:

- ``wkb``     : WKB/WKT/GeoJSON parse + write (ISO WKB, 2D/Z)
- ``ops``     : area, centroid, distance, intersects, the polygon
                overlay (intersection/difference incl. concave×concave
                with holes, line×polygon clipping, true cascaded
                union), Douglas-Peucker simplify, web-mercator
                transform, grid snap, subdivision
- ``kernels`` : Arrow-batched pandas UDFs exposing the ops as ST-style
                column functions (``st_point``, ``st_area``, ...)

Column convention: geometry is a ``BinaryType`` column holding ISO WKB,
CRS EPSG:4326 unless produced by ``st_transform``. ``POINT EMPTY`` is
encoded as NaN coordinates (the PostGIS convention); other empties have
zero elements. A later swap to Apache Sedona is mechanical: the ST names
match, and the WKB convention is what ``ST_GeomFromWKB`` expects.

Overlay semantics: convex and rectilinear configurations produce exact
merged output (Sutherland-Hodgman / closed-form rect paths); general
concave results are area-exact DISSECTIONS (adjacent convex trapezoids
from one vertical slab sweep, even-odd fill per polygon part — correct
region, dissected boundary). Area,
centroid, containment, and further overlay over dissections are exact;
code needing a single merged boundary is the Sedona swap's territory.
"""
