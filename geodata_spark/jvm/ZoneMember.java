package geodata_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.util.Arrays;
import java.util.Collections;
import java.util.Map;
import java.util.WeakHashMap;

import org.apache.spark.broadcast.Broadcast;
import org.apache.spark.sql.api.java.UDF3;

/**
 * Zone membership as a Spark function: (cell key, lat, lon) to the ids
 * of the zones whose cover rows at that key contain the point.
 *
 * The cover arrives as one broadcast of bytes that spatial packs from
 * its planned cover (big-endian): the zone ids, then the rows sorted by
 * key, each with its zone, a boundary flag and its edge range, then
 * five doubles (y1, y2, x1, dx, dy) per edge.  A full row is a member.
 * A boundary row counts the crossings of a rightward ray over its
 * edges with geometry.points_in_polygon's IEEE op sequence; an odd
 * count is a member.  Java double arithmetic is strict IEEE, so the
 * result equals points_in_rings bit for bit, on edges and vertices too.
 *
 * Bytes, not an object of this class, are broadcast: in local mode a
 * task gets the driver's value, whose classes the session's jar loader
 * loaded, not the task's.
 */
public final class ZoneMember implements UDF3<Long, Double, Double, String[]> {
    private static final String[] NONE = new String[0];
    // one parse per broadcast value per JVM: tasks share the block
    // manager's array, and an unpersisted value's entry goes with it
    private static final Map<byte[], Cover> PARSED =
        Collections.synchronizedMap(new WeakHashMap<>());

    private final Broadcast<byte[]> cover;
    private transient Cover parsed;

    public ZoneMember(Broadcast<byte[]> cover) {
        this.cover = cover;
    }

    private static final class Cover {
        final String[] zones;
        final long[] keys;
        final int[] zone;
        final boolean[] boundary;
        final int[] start;
        final int[] end;
        final double[] edges;

        Cover(byte[] bytes) {
            ByteBuffer buf = ByteBuffer.wrap(bytes);
            zones = new String[buf.getInt()];
            for (int z = 0; z < zones.length; z++) {
                byte[] name = new byte[buf.getInt()];
                buf.get(name);
                zones[z] = new String(name, StandardCharsets.UTF_8);
            }
            int rows = buf.getInt();
            keys = new long[rows];
            zone = new int[rows];
            boundary = new boolean[rows];
            start = new int[rows];
            end = new int[rows];
            buf.asLongBuffer().get(keys);
            buf.position(buf.position() + 8 * rows);
            for (int[] col : new int[][] {zone, start, end}) {
                buf.asIntBuffer().get(col);
                buf.position(buf.position() + 4 * rows);
            }
            for (int i = 0; i < rows; i++) {
                boundary[i] = buf.get() != 0;
            }
            edges = new double[5 * buf.getInt()];
            buf.asDoubleBuffer().get(edges);
        }
    }

    @Override
    public String[] call(Long key, Double lat, Double lon) {
        if (key == null) {
            return NONE;
        }
        Cover c = parsed;
        if (c == null) {
            c = parsed = PARSED.computeIfAbsent(cover.value(), Cover::new);
        }
        // the first row of the key: rows are sorted by key
        int lo = 0;
        int hi = c.keys.length;
        while (lo < hi) {
            int mid = (lo + hi) >>> 1;
            if (c.keys[mid] < key) {
                lo = mid + 1;
            } else {
                hi = mid;
            }
        }
        // a NULL coordinate crosses no edge: full rows only
        double y = lat == null ? Double.NaN : lat;
        double x = lon == null ? Double.NaN : lon;
        String[] out = NONE;
        int n = 0;
        for (int i = lo; i < c.keys.length && c.keys[i] == key; i++) {
            boolean member = !c.boundary[i];
            if (!member) {
                int crossings = 0;
                for (int e = 5 * c.start[i]; e < 5 * c.end[i]; e += 5) {
                    double y1 = c.edges[e];
                    double y2 = c.edges[e + 1];
                    double x1 = c.edges[e + 2];
                    double dx = c.edges[e + 3];
                    double dy = c.edges[e + 4];
                    if (((y1 > y) != (y2 > y)) && (x < dx * (y - y1) / dy + x1)) {
                        crossings++;
                    }
                }
                member = (crossings & 1) == 1;
            }
            if (member) {
                if (n == out.length) {
                    out = Arrays.copyOf(out, n + 2);
                }
                out[n++] = c.zones[c.zone[i]];
            }
        }
        return n == out.length ? out : Arrays.copyOf(out, n);
    }
}
